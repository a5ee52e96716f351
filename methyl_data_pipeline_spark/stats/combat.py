"""Parametric ComBat batch correction as a multi-pass DataFrame program.

Reference M2: ``pycombat(beta_data, batch)``
(``preprocessing/combat_norm.py:41-73``) and ``sva::ComBat`` on M-values
(``workflow.R:132-145``). Implements Johnson, Li & Rabinovic (2007)
parametric empirical Bayes, intercept-only model (no covariates), which
is what the reference's variant A uses.

Why this shape (SURVEY §7.3 #1): the EB hyperpriors pool across *all*
probes within a batch, so a per-probe/per-batch grouped UDF cannot see
them — the algorithm decomposes into:

  pass 1  per-(probe, batch) moments  n, mean            (shuffle on probe)
  pass 2  per-probe grand mean + pooled variance         (reuse pass-1 agg)
  pass 3  standardize  Z = (x - grand_mean)/sqrt(var_pooled)
  pass 4  per-(probe, batch) gamma_hat, delta_hat²  of Z
  pass 5  per-batch hyperpriors over probes:
            gamma_bar, t2  (normal prior on gamma)
            a, b           (inverse-gamma prior on delta², via
                            aprior/bprior moment formulas)
  pass 6  per-(probe, batch) EB fixed point -> gamma*, delta*²
          (vectorized Arrow pandas UDF; needs only row-local scalars
           because  Σ(Z-γ*)² = (n-1)δ̂² + n(γ̂-γ*)²)
  pass 7  adjust:  x* = sqrt(var_pooled)·(Z - γ*)/sqrt(δ*²) + grand_mean

Every pass is a groupBy-agg or broadcast join on already-partitioned
keys; the only Python is the 30-iteration scalar fixed point, Arrow
batched, O(#probes × #batches) rows — trivially parallel.

The covariate variant (:func:`combat_with_covariates`) swaps passes
1-3 for a per-probe OLS fit and shares passes 4-7 with :func:`combat`.
The two standardizations differ in ``var_pooled``: the intercept-only
path pools the squared deviations about ``grand_mean``, which include
the between-batch spread, while the covariate path pools the OLS
residuals of ``value ~ batch + covariates``, as sva does. Each
variant's contract query (``combat_priors``, ``combat_cov_prefix``)
pins its own form, so they stay separate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from methyl_data_pipeline_spark import cache


def _standardize(
    df: DataFrame, value_col: str, batch_col: str, key_col: str
) -> DataFrame:
    """Passes 1-3 of the intercept-only model: the input rows plus
    ``grand_mean``, ``var_pooled`` and the standardized ``z``."""
    x = F.col(value_col)

    # pass 1: per-(probe, batch) n and mean
    pb = df.groupBy(key_col, batch_col).agg(
        F.count(x).alias("n_b"), F.avg(x).alias("mean_b")
    )

    # pass 2: per-probe grand mean (sample-size weighted, = OLS intercept
    # of the batch-design model) — derived from pass 1, no second scan.
    grand = pb.groupBy(key_col).agg(
        (F.sum(F.col("n_b") * F.col("mean_b")) / F.sum("n_b")).alias("grand_mean"),
        F.sum("n_b").alias("n_total"),
    )

    # pooled variance: (1/N) Σ_s (x - grand_mean)²  — one scan of facts.
    with_grand = df.join(grand, key_col)
    pooled = with_grand.groupBy(key_col).agg(
        (F.sum(F.pow(x - F.col("grand_mean"), 2)) / F.first("n_total")).alias("var_pooled")
    )

    # pass 3: standardize
    return with_grand.join(pooled, key_col).withColumn(
        "z", (x - F.col("grand_mean")) / F.sqrt("var_pooled")
    )


def _priors(z: DataFrame, batch_col: str, key_col: str) -> DataFrame:
    """Passes 4-5, shared by both ComBat variants: the per-(probe,
    batch) moments of ``z`` joined with the per-batch EB hyperpriors
    pooled over probes."""
    # pass 4: per-(probe, batch) moments of Z
    zb = z.groupBy(key_col, batch_col).agg(
        F.count("z").alias("n_b"),
        F.avg("z").alias("gamma_hat"),
        F.var_samp("z").alias("delta_hat_sq"),
    )

    # pass 5: per-batch hyperpriors pooled over probes. aprior/bprior are
    # the standard sva moment formulas for the inverse-gamma prior.
    hyper = zb.groupBy(batch_col).agg(
        F.avg("gamma_hat").alias("gamma_bar"),
        F.var_samp("gamma_hat").alias("t2"),
        F.avg("delta_hat_sq").alias("_dm"),
        F.var_samp("delta_hat_sq").alias("_ds2"),
    ).withColumn(
        "a_prior", (2.0 * F.col("_ds2") + F.pow(F.col("_dm"), 2)) / F.col("_ds2")
    ).withColumn(
        "b_prior",
        (F.col("_dm") * F.col("_ds2") + F.pow(F.col("_dm"), 3)) / F.col("_ds2"),
    ).drop("_dm", "_ds2")

    return zb.join(F.broadcast(hyper), batch_col).select(
        key_col, batch_col, "n_b", "gamma_hat", "delta_hat_sq",
        "gamma_bar", "t2", "a_prior", "b_prior",
    )


def combat_priors(
    long_df: DataFrame,
    value_col: str = "beta",
    batch_col: str = "run",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
) -> DataFrame:
    """The deterministic prefix of ComBat (passes 1-5), exposed as a
    queryable result: per-(probe, batch) standardized moments
    ``gamma_hat`` / ``delta_hat_sq`` joined with the per-batch EB
    hyperpriors ``gamma_bar`` / ``t2`` / ``a_prior`` / ``b_prior``.

    Everything here is plain groupBy-agg SQL (no iteration), so it is
    exactly oracle-checkable — it pins the inputs the EB fixed point
    consumes, and it is the (unpersisted) input of every other
    oracle-checked ComBat query. Reference M2 semantics:
    ``workflow.R:132-150``, ``preprocessing/combat_norm.py:41-60``.
    """
    df = long_df.select(key_col, sample_col, batch_col, value_col)
    return _priors(_standardize(df, value_col, batch_col, key_col), batch_col, key_col)


def eb_update_exprs(n, gh, d0, gamma_bar, t2, a_prior, b_prior):
    """THE closed-form EB update algebra (sva ``it.sol``, reference
    workflow.R:139-145), as a (gamma_update, delta_update) pair of
    Column-expression factories::

        gamma(d) = (t2·n·gamma_hat + d·gamma_bar) / (t2·n + d)
        delta(g) = (b + ½[(n−1)·d0 + n·(gamma_hat − g)²]) / (n/2 + a − 1)

    Single source for :func:`combat_onestep`, :func:`combat_twostep`
    and :func:`combat_converged` — the certificate chain asserts
    residuals against exactly this algebra, so it must not fork. (The
    Arrow ``eb_fixed_point`` kernel re-expresses it in NumPy; the
    certificates exist to pin that kernel against this form.)
    """

    def gamma(d_prev):
        return (t2 * n * gh + d_prev * gamma_bar) / (t2 * n + d_prev)

    def delta(g_new):
        sum2 = (n - F.lit(1.0)) * d0 + n * F.pow(gh - g_new, 2)
        return (F.lit(0.5) * sum2 + b_prior) / (
            n / F.lit(2.0) + a_prior - F.lit(1.0)
        )

    return gamma, delta


def _prefix_updates(long_df, value_col, batch_col, key_col, sample_col):
    """``(j, d0, gamma, delta)``: the pass-1..5 frame, its variance
    estimate ``d0`` and :func:`eb_update_exprs` bound to its columns.
    Single-observation batches (null ``delta_hat_sq``) fall back to a
    unit variance estimate, matching the fixed-point kernel's
    ``nan→1.0`` handling."""
    j = combat_priors(long_df, value_col, batch_col, key_col, sample_col)
    d0 = F.coalesce(F.col("delta_hat_sq"), F.lit(1.0))
    gamma, delta = eb_update_exprs(
        F.col("n_b").cast("double"), F.col("gamma_hat"), d0,
        F.col("gamma_bar"), F.col("t2"), F.col("a_prior"), F.col("b_prior"),
    )
    return j, d0, gamma, delta


def combat_onestep(
    long_df: DataFrame,
    value_col: str = "beta",
    batch_col: str = "run",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
) -> DataFrame:
    """Exactly ONE empirical-Bayes iteration from the moment-estimated
    priors — the closed-form first step of the gamma*/delta* fixed
    point that :func:`combat` iterates to convergence (reference
    semantics ``workflow.R:139-145``, sva ``it.sol``):

        gamma_1 = (t2·n·gamma_hat + delta_hat²·gamma_bar)
                  / (t2·n + delta_hat²)
        delta_1 = (b + ½[(n−1)·delta_hat² + n·(gamma_hat − gamma_1)²])
                  / (n/2 + a − 1)

    Pure column arithmetic over the pass-1..5 prefix, hence fully
    DuckDB-oracle-checkable; together with :func:`combat_priors` it
    shrinks ComBat's uncheckable core to just the convergence loop.
    The first-iteration columns of :func:`combat_twostep`.
    """
    return combat_twostep(long_df, value_col, batch_col, key_col, sample_col).select(
        key_col, batch_col, "n_b", "gamma_one", "delta_one_sq"
    )


def combat_twostep(
    long_df: DataFrame,
    value_col: str = "beta",
    batch_col: str = "run",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
) -> DataFrame:
    """TWO closed-form EB iterations of the gamma*/delta* fixed point
    (reference ``workflow.R:139-145``, sva ``it.sol`` unrolled twice).
    Iteration 2 is the same row-local algebra as iteration 1 — the
    gamma update always reads the raw ``gamma_hat`` and the delta
    update always re-sums ``(n−1)·delta_hat² + n·(gamma_hat − g)²``
    against the data moments; only the plugged-in delta changes::

        gamma_2 = (t2·n·gamma_hat + delta_1²·gamma_bar) / (t2·n + delta_1²)
        delta_2 = (b + ½[(n−1)·delta_hat² + n·(gamma_hat − gamma_2)²])
                  / (n/2 + a − 1)

    Emitting both iterations per (probe, batch) makes the CONTRACTION
    of the fixed point oracle-checkable: |gamma_2 − gamma_1| is
    machine-verifiably smaller than the first step, shrinking
    :func:`combat`'s uncheckable core to pure loop convergence.
    """
    j, d0, _gamma, _delta = _prefix_updates(
        long_df, value_col, batch_col, key_col, sample_col
    )
    g1 = _gamma(d0)
    d1 = _delta(g1)
    g2 = _gamma(d1)
    d2 = _delta(g2)
    return j.select(
        key_col,
        batch_col,
        "n_b",
        g1.alias("gamma_one"),
        d1.alias("delta_one_sq"),
        g2.alias("gamma_two"),
        d2.alias("delta_two_sq"),
    )


def _eb_stars(j: DataFrame, conv: float, max_iter: int) -> DataFrame:
    """Pass 6: the EB fixed point, vectorized over the (probe, batch)
    rows of the pass-5 frame ``j``, returned WITH the prefix columns
    it consumed (so callers can check the fixed-point equations
    against the same inputs).

    conv defaults to machine level (1e-13): the loop's early exit is
    batch-global, and Arrow batch boundaries depend on partitioning —
    a loose tolerance would make results vary with the physical plan.
    At machine convergence every row is at its fixed point, so batch
    composition cannot matter.
    """

    @pandas_udf("struct<gamma_star double, delta_star_sq double>")
    def eb_fixed_point(
        n: pd.Series, gamma_hat: pd.Series, delta_hat_sq: pd.Series,
        gamma_bar: pd.Series, t2: pd.Series, a: pd.Series, b: pd.Series,
    ) -> pd.DataFrame:
        import numpy as np

        n_ = n.to_numpy(dtype=float)
        gh = gamma_hat.to_numpy(dtype=float)
        dh2 = np.nan_to_num(delta_hat_sq.to_numpy(dtype=float), nan=1.0)
        gb, t2_ = gamma_bar.to_numpy(float), t2.to_numpy(float)
        a_, b_ = a.to_numpy(float), b.to_numpy(float)

        g_old = gh.copy()
        d_old = dh2.copy()
        for _ in range(max_iter):
            g_new = (t2_ * n_ * gh + d_old * gb) / (t2_ * n_ + d_old)
            sum2 = (n_ - 1.0) * dh2 + n_ * (gh - g_new) ** 2
            d_new = (0.5 * sum2 + b_) / (n_ / 2.0 + a_ - 1.0)
            change = np.maximum(
                np.abs(g_new - g_old) / np.maximum(np.abs(g_old), 1e-12),
                np.abs(d_new - d_old) / np.maximum(np.abs(d_old), 1e-12),
            )
            g_old, d_old = g_new, d_new
            if float(change.max(initial=0.0)) < conv:
                break
        return pd.DataFrame({"gamma_star": g_old, "delta_star_sq": d_old})

    return j.withColumn(
        "_eb",
        eb_fixed_point(
            F.col("n_b"), F.col("gamma_hat"), F.col("delta_hat_sq"),
            F.col("gamma_bar"), F.col("t2"), F.col("a_prior"), F.col("b_prior"),
        ),
    ).select(
        *j.columns,
        F.col("_eb.gamma_star").alias("gamma_star"),
        F.col("_eb.delta_star_sq").alias("delta_star_sq"),
    )


def _adjust(
    z: DataFrame,
    centre_col: str,
    value_col: str,
    batch_col: str,
    key_col: str,
    sample_col: str,
    conv: float,
    max_iter: int,
) -> DataFrame:
    """Passes 4-7 over a standardized ``z`` frame (which carries
    ``var_pooled`` and its own centre column): priors, the EB fixed
    point, then ``x* = sqrt(var_pooled)·(z − γ*)/sqrt(δ*²) + centre``.

    ``z`` is persisted: it feeds both the pass-4 moments and the final
    join, and without the cache its full fact-table lineage runs twice.
    The stars frame is (probes × batches), on the fact table's
    partitioning key, so AQE plans a co-partitioned join.
    """
    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(z.sparkSession)
    z = cache.track(z)
    stars = _eb_stars(_priors(z, batch_col, key_col), conv, max_iter).select(
        key_col, batch_col, "gamma_star", "delta_star_sq"
    )
    out_col = f"{value_col}_combat"
    return (
        z.join(stars, [key_col, batch_col])
        .withColumn(
            out_col,
            F.sqrt("var_pooled")
            * (F.col("z") - F.col("gamma_star"))
            / F.sqrt("delta_star_sq")
            + F.col(centre_col),
        )
        .select(key_col, sample_col, batch_col, value_col, out_col)
    )


def combat(
    long_df: DataFrame,
    value_col: str = "beta",
    batch_col: str = "run",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
    conv: float = 1e-13,
    max_iter: int = 200,
) -> DataFrame:
    """Return the input with an added ``{value_col}_combat`` column.

    Requires complete data (no nulls) for the probes processed — the
    reference drops incomplete probes first
    (``preprocessing/combat_norm.py:28-30``); compose with
    ``operators.qc.drop_incomplete_probes``.
    """
    df = long_df.select(key_col, sample_col, batch_col, value_col)
    z = _standardize(df, value_col, batch_col, key_col)
    return _adjust(
        z, "grand_mean", value_col, batch_col, key_col, sample_col, conv, max_iter
    )


def combat_converged(
    long_df: DataFrame,
    value_col: str = "beta",
    batch_col: str = "run",
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
    conv: float = 1e-13,
    max_iter: int = 200,
) -> DataFrame:
    """Convergence CERTIFICATE for ComBat's EB fixed point, as a
    queryable frame: per (probe, batch), the absolute residuals of the
    two fixed-point equations evaluated at the returned
    ``(gamma*, delta*²)``::

        r_gamma = |gamma* − (t2·n·γ̂ + delta*²·γ̄) / (t2·n + delta*²)|
        r_delta = |delta*² − (b + ½[(n−1)·δ̂² + n·(γ̂ − gamma*)²])
                              / (n/2 + a − 1)|

    At machine convergence (``conv=1e-13``) both are ≲1e-12 — i.e.
    exactly 0 at any sane output rounding — for EVERY row, regardless
    of partitioning or Arrow batch boundaries. A DuckDB oracle can
    derive the identical key set from the deterministic prefix and
    assert literal zeros, making loop convergence itself
    oracle-checkable and closing the gap between ``combat_twostep``
    (iterations contract) and :func:`combat` (rows-only). Reference
    semantics ``workflow.R:139-145`` (sva ``it.sol`` stopping rule).
    """
    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(long_df.sparkSession)
    j, _, _gamma, _delta = _prefix_updates(
        long_df, value_col, batch_col, key_col, sample_col
    )
    gs, ds = F.col("gamma_star"), F.col("delta_star_sq")
    return _eb_stars(j, conv, max_iter).select(
        key_col,
        batch_col,
        "n_b",
        F.abs(gs - _gamma(ds)).alias("gamma_residual"),
        F.abs(ds - _delta(gs)).alias("delta_residual"),
    )


def covariate_standardize(
    long_df: DataFrame,
    value_col: str = "mval",
    batch_col: str = "run",
    covariate_cols: list[str] | None = None,
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
) -> DataFrame:
    """ComBat variant B's per-probe OLS standardization (the
    deterministic prefix of :func:`combat_with_covariates`): fit
    ``value ~ batch + covariates`` per probe, emit the
    covariate-protected ``stand_mean``, pooled residual variance, and
    standardized ``z`` per row. Probes are independent, so this is a
    grouped ``applyInPandas`` with a small lstsq per probe; the EB
    machinery that consumes it pools ACROSS probes and stays outside.

    For a balanced full-rank design the OLS coefficients have exact
    closed forms (orthogonal batch/covariate effects), which is what
    makes this stage DuckDB-oracle-checkable (``combat_cov_prefix``).
    Reference ``workflow.R:132-145`` (``ComBat(..., mod=model.matrix)``).
    """
    import numpy as np

    from methyl_data_pipeline_spark.deploy import ensure_importable

    ensure_importable(long_df.sparkSession)
    covariate_cols = covariate_cols or []
    cols = [key_col, sample_col, batch_col, value_col, *covariate_cols]
    df = long_df.select(*cols)

    batches = [r[0] for r in df.select(batch_col).distinct().orderBy(batch_col).collect()]
    cov_levels = {
        c: [r[0] for r in df.select(c).distinct().orderBy(c).collect()]
        for c in covariate_cols
    }
    n_batch = len(batches)

    out_schema = (
        f"{key_col} string, {sample_col} string, {batch_col} string, "
        f"{value_col} double, z double, stand_mean double, var_pooled double"
    )

    def fit_probe(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf[value_col].to_numpy(dtype=float)
        n = len(y)
        # full-rank design: batch one-hot (all levels, sum-to-count
        # parametrization as in sva) + covariate dummies (drop-first)
        blocks = [
            np.column_stack([
                (pdf[batch_col] == b).to_numpy(dtype=float) for b in batches
            ])
        ]
        for c in covariate_cols:
            lv = cov_levels[c][1:]
            if lv:
                blocks.append(
                    np.column_stack([
                        (pdf[c] == v).to_numpy(dtype=float) for v in lv
                    ])
                )
        X = np.hstack(blocks)
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        # grand mean over batches weighted by batch size (sva's
        # grand.mean), covariate part protected in stand_mean
        counts = np.array([(pdf[batch_col] == b).sum() for b in batches], dtype=float)
        grand = float(np.dot(counts / n, beta[:n_batch]))
        stand_mean = np.full(n, grand)
        if X.shape[1] > n_batch:
            stand_mean = stand_mean + X[:, n_batch:] @ beta[n_batch:]
        resid = y - X @ beta
        var_pooled = float(np.dot(resid, resid) / n) or 1e-12
        # sva standardizes against stand_mean (covariate-protected)
        z = (y - stand_mean) / np.sqrt(var_pooled)
        out = pdf[[key_col, sample_col, batch_col]].copy()
        out[value_col] = y
        out["z"] = z
        out["stand_mean"] = stand_mean
        out["var_pooled"] = var_pooled
        return out

    return df.groupBy(key_col).applyInPandas(fit_probe, out_schema)


def combat_with_covariates(
    long_df: DataFrame,
    value_col: str = "mval",
    batch_col: str = "run",
    covariate_cols: list[str] | None = None,
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
    conv: float = 1e-13,
    max_iter: int = 200,
) -> DataFrame:
    """ComBat variant B: covariate-protected batch correction
    (reference ``workflow.R:132-145``: ``ComBat(mvals, batch,
    mod=model.matrix(~Tissue.Cell.type))``).

    The biological covariates are included in the per-probe linear
    model so their effect is preserved (removed before standardization,
    added back after adjustment). Decomposition:

      1. per-probe OLS of value ~ batch + covariates — probes are
         independent, so this IS a grouped operation:
         ``applyInPandas`` per probe, lstsq on the small (n_samples ×
         n_params) design, emitting Z and the protected stand_mean;
      2. EB hyperpriors + fixed point + adjustment — the same passes
         4-7 as the no-covariate path (pools ACROSS probes, so it
         stays outside the grouped UDF).

    The covariate design is built driver-side from the distinct
    (batch, covariate) levels — a dimension-sized lookup, broadcast
    into the UDF closure.
    """
    z = covariate_standardize(
        long_df, value_col, batch_col, covariate_cols, key_col, sample_col
    )
    return _adjust(
        z, "stand_mean", value_col, batch_col, key_col, sample_col, conv, max_iter
    )


def batch_sd_reduction(
    before: DataFrame, after: DataFrame, value_col: str, value_col_after: str,
    batch_col: str = "run", key_col: str = "probe_id",
) -> DataFrame:
    """Oracle invariant from the reference's diagnostic script
    (test.R:146-181): ComBat must shrink the cross-batch SD of per-batch
    probe means. Returns per-probe before/after SDs for assertion."""
    def cross_batch_sd(df: DataFrame, col: str, name: str) -> DataFrame:
        return (
            df.groupBy(key_col, batch_col)
            .agg(F.avg(F.col(col)).alias("m"))
            .groupBy(key_col)
            .agg(F.stddev_samp("m").alias(name))
        )

    return cross_batch_sd(before, value_col, "sd_before").join(
        cross_batch_sd(after, value_col_after, "sd_after"), key_col
    )
