"""Limma-style moderated two-group t-test as a multi-pass agg program.

Reference A13/M5: ``lmFit + eBayes + topTable`` on M-values
(``plots.R:130-139``, ``volcano.R:101-108``,
``Mouse_Microarray_General_Workflow.R:124-147``). The empirical-Bayes
variance shrinkage pools information ACROSS probes, so this cannot be a
per-group UDF (SURVEY §2.11) — it is a three-phase DataFrame program:

  1. per-(probe, group) aggregates: n, mean, var         (one shuffle)
  2. global EB prior fit over per-probe pooled variances (tiny agg)
  3. broadcast the 2-value prior back; closed-form moderated t

EB prior: two fits of (d0, s0²), one moderation step. limma fits an
F-distribution to the s² (``fitFDist``, digamma inversion);
:func:`_fit_f_dist_prior` does the same, and it is what
``plans.pipeline.run_methylation_pipeline`` runs. The default
(``prior_method="moments"``, and the only prior of the contrasts and
F paths) is the scaled-chi-square method-of-moments closed form —
treating s² ~ s0²·χ²(d0)/d0 gives E[s²]=s0², Var[s²]=2·s0⁴/d0, hence::

    s0² = mean(s²)          d0 = 2·mean(s²)² / var(s²)

which is deterministic, SQL-expressible (oracle-checkable, so the
contract queries use it), and within a few percent of fitFDist on
well-behaved data. Both fits cap d0 at 1e12 when the s² show no excess
spread. Posterior variance and moderated t follow limma exactly given
(d0, s0²)::

    s̃²_g = (d0·s0² + df_g·s²_g) / (d0 + df_g)
    t_g   = (mean1_g - mean2_g) / sqrt(s̃²_g · (1/n1_g + 1/n2_g))

with moderated df = d0 + df_g. P-values (2-sided t survival) need the
t CDF, which is not a Catalyst builtin — computed by an Arrow-batched
pandas UDF only when requested.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from methyl_data_pipeline_spark import cache


def moderated_t_two_group(
    long_df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    value_col: str = "mval",
    key_col: str = "probe_id",
    with_p_values: bool = False,
    prior_method: str = "moments",
) -> DataFrame:
    """Per-key moderated t between two groups of samples.

    ``prior_method``: ``"moments"`` (default) fits the EB prior
    (d0, s0²) with the scaled-chi-square moment closed form — pure SQL,
    oracle-checkable. ``"fitFDist"`` runs limma's actual F-distribution
    fit (log-scale moment match + digamma/trigamma inversion,
    plots.R:130-139 eBayes): more robust on heavy-tailed variance
    distributions, at the cost of one tiny driver round-trip (three
    scalars + the ≤n_samples distinct df values).

    Input: long table (key_col, sample_id, value_col, group_col).
    Output: one row per key with n/mean per group, logFC, pooled and
    moderated variance, moderated t and df. Keys lacking >=2 samples in
    either group are dropped (the reference's insufficient-sample guard,
    plots.R:73-75).
    """
    a, b = F.lit(group_a), F.lit(group_b)
    v = F.col(value_col)

    # Phase 1 — per-(key, group) moments via conditional aggregation:
    # a single shuffle on key_col, no pivot.
    per_key = (
        long_df.filter(F.col(group_col).isin(group_a, group_b))
        .groupBy(key_col)
        .agg(
            F.count(F.when(F.col(group_col) == a, v)).alias("n1"),
            F.avg(F.when(F.col(group_col) == a, v)).alias("mean1"),
            F.var_samp(F.when(F.col(group_col) == a, v)).alias("var1"),
            F.count(F.when(F.col(group_col) == b, v)).alias("n2"),
            F.avg(F.when(F.col(group_col) == b, v)).alias("mean2"),
            F.var_samp(F.when(F.col(group_col) == b, v)).alias("var2"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
        .withColumn("df", F.col("n1") + F.col("n2") - 2)
        .withColumn(
            "s2",
            ((F.col("n1") - 1) * F.col("var1") + (F.col("n2") - 1) * F.col("var2"))
            / F.col("df"),
        )
        .withColumn("logFC", F.col("mean1") - F.col("mean2"))
    )
    # prior and moderation both read per_key: uncached, the facts scan twice
    per_key = cache.track(per_key)

    # Phase 2 — EB prior over all keys (one row).
    fit = _fit_f_dist_prior if prior_method == "fitFDist" else _moment_prior
    prior = fit(per_key)

    # Phase 3 — closed-form moderated statistics.
    out = (
        _moderate(per_key, prior, "df")
        .withColumn(
            "t_mod",
            F.col("logFC")
            / F.sqrt(F.col("s2_post") * (1.0 / F.col("n1") + 1.0 / F.col("n2"))),
        )
        .withColumn("df_mod", F.col("d0") + F.col("df"))
    )

    if with_p_values:
        from methyl_data_pipeline_spark.deploy import ensure_importable

        ensure_importable(long_df.sparkSession)
        out = out.withColumn("p_value", _t_sf_two_sided(F.col("t_mod"), F.col("df_mod")))
    return out


def _moment_prior(per_key: DataFrame) -> DataFrame:
    """The scaled-chi-square moment prior ``(s0_sq, d0)`` over the
    ``s2`` column, as a 1-row frame.

    Degenerate guard mirroring the fitFDist path (limma caps the prior
    df when between-key variance vanishes): var_samp is 0 when all
    pooled variances are equal and NULL with a single key — either
    would otherwise divide by zero (an error under ANSI) or null out d0
    and every downstream statistic.
    """
    return per_key.agg(
        F.avg("s2").alias("s0_sq"),
        F.when(
            F.var_samp("s2") > 0,
            2.0 * F.pow(F.avg("s2"), 2) / F.var_samp("s2"),
        )
        .otherwise(F.lit(1e12))
        .alias("d0"),
    )


def _moderate(per_key: DataFrame, prior: DataFrame, df_col: str) -> DataFrame:
    """Broadcast the 1-row prior onto every key and add the posterior
    variance ``s2_post = (d0·s0² + df·s²) / (d0 + df)``."""
    d0, df = F.col("d0"), F.col(df_col)
    return per_key.crossJoin(F.broadcast(prior)).withColumn(
        "s2_post", (d0 * F.col("s0_sq") + df * F.col("s2")) / (d0 + df)
    )


def _fit_f_dist_prior(per_key: DataFrame) -> DataFrame:
    """limma's fitFDist prior as a distributed program (plots.R:130-139).

    The log-scale transform e = log(s²) − ψ(df/2) + log(df/2) needs
    digamma at df/2 — not a Catalyst builtin, but df takes at most
    n_samples distinct values, so the ψ/ψ′ lookups ship as a literal
    map (no UDF). One aggregate produces the three scalars; the
    digamma-inversion Newton solve runs driver-side on those scalars
    (data-size-independent), and the resulting (d0, s0²) go back as a
    1-row DataFrame matching the moments-path contract.
    """
    import math

    from methyl_data_pipeline_spark.stats.special import (
        digamma, trigamma, trigamma_inverse,
    )

    spark = per_key.sparkSession
    dfs = [r[0] for r in per_key.select("df").distinct().collect()]
    dg_map = F.create_map(
        *[F.lit(x) for d in dfs for x in (d, float(digamma(d / 2.0)))]
    )
    tg_map = F.create_map(
        *[F.lit(x) for d in dfs for x in (d, float(trigamma(d / 2.0)))]
    )
    emean, evar_raw, tg_mean = (
        per_key.filter(F.col("s2") > 0)
        .select(
            (F.log("s2") - dg_map[F.col("df")] + F.log(F.col("df") / 2.0)).alias("_e"),
            tg_map[F.col("df")].alias("_tg"),
        )
        .agg(F.avg("_e"), F.var_samp("_e"), F.avg("_tg"))
        .collect()[0]
    )
    evar = float(evar_raw) - float(tg_mean)
    if evar > 0:
        d0 = 2.0 * trigamma_inverse(evar)
        s0_sq = math.exp(float(emean) + float(digamma(d0 / 2.0)) - math.log(d0 / 2.0))
    else:
        # no excess spread beyond sampling noise: infinite prior df.
        # Cap at 1e12 so s2_post = (d0·s0²+df·s²)/(d0+df) stays finite
        # and numerically equals s0² as limma prescribes.
        d0, s0_sq = 1e12, math.exp(float(emean))
    return spark.createDataFrame(
        [(float(s0_sq), float(d0))], "s0_sq double, d0 double"
    )


def _t_sf_two_sided(t_col, df_col):
    """2·P(T_df > |t|) via an Arrow-batched pandas UDF (pure NumPy)."""
    from pyspark.sql.functions import pandas_udf

    # NOTE: pandas must be importable from module globals — pandas_udf
    # resolves the (PEP 563 stringified) hints via get_type_hints.
    @pandas_udf("double")
    def t_sf(t: pd.Series, df: pd.Series) -> pd.Series:
        from methyl_data_pipeline_spark.stats.special import t_sf as _sf

        return pd.Series(2.0 * _sf(t.abs().to_numpy(), df.to_numpy()))

    return t_sf(t_col, df_col)


def moderated_t_contrasts(
    long_df: DataFrame,
    group_col: str,
    pairs: list[tuple[str, str]],
    value_col: str = "mval",
    key_col: str = "probe_id",
) -> DataFrame:
    """All-pairwise moderated contrasts with a SHARED residual variance —
    the actual limma model (M6: ``makeContrasts`` pairwise diffs,
    Mouse_Microarray_General_Workflow.R:125-143).

    Unlike per-pair two-sample tests, limma fits ONE linear model per
    probe (group-means design): the residual variance pools across all
    k groups (s² = Σ(n_g-1)·var_g / (N-k), df = N-k), the EB prior is
    fit once over those s², and every contrast reuses the same
    moderated s̃². Output: one row per (probe, contrast).

    Plan shape: one groupBy(key, group) pass → per-key pivot-free
    conditional collect via a second groupBy(key) → tiny prior agg →
    per-pair selects unioned (column arithmetic only, no extra
    shuffles).
    """
    groups = sorted({g for p in pairs for g in p})
    # internal wide-column suffixes are ordinals, NOT raw labels: a
    # label containing '.' (e.g. 'WT.young') inside F.col("n_WT.young")
    # parses as struct-field access and fails resolution — the output
    # 'contrast' column still carries the original labels
    sfx = {g: str(i) for i, g in enumerate(groups)}
    v = F.col(value_col)

    per_group = (
        long_df.filter(F.col(group_col).isin(groups))
        .groupBy(key_col, group_col)
        .agg(F.count(v).alias("n"), F.avg(v).alias("mean"), F.var_samp(v).alias("var"))
        .filter(F.col("n") >= 2)
    )

    # wide per-key stats via conditional aggregation (k is small — the
    # group dimension, not the data dimension)
    aggs = []
    for g in groups:
        cond = F.col(group_col) == g
        aggs += [
            F.sum(F.when(cond, F.col("n"))).alias(f"n_{sfx[g]}"),
            F.sum(F.when(cond, F.col("mean"))).alias(f"mean_{sfx[g]}"),
            F.sum(F.when(cond, F.col("var"))).alias(f"var_{sfx[g]}"),
        ]
    per_key = per_group.groupBy(key_col).agg(*aggs)

    # pooled residual variance over all groups present for the probe
    n_terms = [F.coalesce(F.col(f"n_{sfx[g]}"), F.lit(0)) for g in groups]
    ss_terms = [
        F.when(
            F.col(f"n_{sfx[g]}").isNotNull(),
            (F.col(f"n_{sfx[g]}") - 1) * F.col(f"var_{sfx[g]}"),
        ).otherwise(0.0)
        for g in groups
    ]
    k_present = sum(
        (F.when(F.col(f"n_{sfx[g]}").isNotNull(), 1).otherwise(0) for g in groups),
        F.lit(0),
    )
    n_total = sum(n_terms[1:], n_terms[0])
    ss = sum(ss_terms[1:], ss_terms[0])
    per_key = (
        per_key.withColumn("df", n_total - k_present)
        .filter(F.col("df") >= 1)
        .withColumn("s2", ss / F.col("df"))
    )
    # prior and moderation both read per_key: uncached, the facts scan twice
    per_key = cache.track(per_key)
    based = _moderate(per_key, _moment_prior(per_key), "df")

    outs = []
    for ga, gb in pairs:
        pair = (
            based.filter(
                F.col(f"n_{sfx[ga]}").isNotNull()
                & F.col(f"n_{sfx[gb]}").isNotNull()
            )
            .select(
                key_col,
                F.lit(f"{ga}_vs_{gb}").alias("contrast"),
                (F.col(f"mean_{sfx[ga]}") - F.col(f"mean_{sfx[gb]}")).alias("logFC"),
                (
                    (F.col(f"mean_{sfx[ga]}") - F.col(f"mean_{sfx[gb]}"))
                    / F.sqrt(
                        F.col("s2_post")
                        * (1.0 / F.col(f"n_{sfx[ga]}") + 1.0 / F.col(f"n_{sfx[gb]}"))
                    )
                ).alias("t_mod"),
                (F.col("d0") + F.col("df")).alias("df_mod"),
            )
        )
        outs.append(pair)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def group_mean_deltas(
    long_df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    value_col: str = "beta",
    key_col: str = "probe_id",
) -> DataFrame:
    """Per-key group means + delta (reference A2: delta_beta,
    volcano.R:112-114) — conditional aggregation, single shuffle."""
    v = F.col(value_col)
    return (
        long_df.filter(F.col(group_col).isin(group_a, group_b))
        .groupBy(key_col)
        .agg(
            F.avg(F.when(F.col(group_col) == group_a, v)).alias("mean_a"),
            F.avg(F.when(F.col(group_col) == group_b, v)).alias("mean_b"),
        )
        .withColumn("delta", F.col("mean_a") - F.col("mean_b"))
    )


def _f_sf(f_col, df1_col, df2_col):
    """P(F_{df1,df2} > f) via the regularized incomplete beta
    (pure-NumPy ``special.beta_cdf``): sf = I_{df2/(df2+df1·f)}(df2/2,
    df1/2). Arrow-batched pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def f_sf(f: pd.Series, d1: pd.Series, d2: pd.Series) -> pd.Series:
        import numpy as np

        from methyl_data_pipeline_spark.stats.special import beta_cdf

        fv = np.clip(f.to_numpy(dtype=float), 0.0, None)
        d1v = d1.to_numpy(dtype=float)
        d2v = d2.to_numpy(dtype=float)
        x = d2v / (d2v + d1v * fv)
        return pd.Series(beta_cdf(x, d2v / 2.0, d1v / 2.0))

    return f_sf(f_col, df1_col, df2_col)


def moderated_f_anova(
    long_df: DataFrame,
    group_col: str,
    value_col: str = "mval",
    key_col: str = "probe_id",
    with_p_values: bool = False,
    moment_round: int | None = None,
) -> DataFrame:
    """Moderated one-way ANOVA F per key — limma's ``topTableF``
    overall test (is the key different across ANY of the groups),
    completing the t (two-group) / contrasts (pairwise) / F (omnibus)
    family. Reference semantics: ``eBayes`` + F-statistics over the
    group-means design (plots.R:130-139 fits the same model; the F is
    what limma reports when a contrast matrix spans >1 dof).

        s²      = Σ_g (n_g-1)·var_g / (N-G)        (within, df2 = N-G)
        between = Σ_g n_g·(mean_g - grand)²/(G-1)  (df1 = G-1)
        F_mod   = between / s²_post,   s²_post = (d0·s0² + df2·s²)/(d0+df2)

    with (d0, s0²) the same scaled-chi-square moment EB prior the
    moderated-t path fits. Keys need every observed group with n_g >= 2
    and df2 >= 1. All closed form — one (key, group) shuffle, a
    same-key window + groupBy (one exchange), a 1-row prior agg —
    fully oracle-checkable.

    ``ms_between`` is computed subtract-before-square,
    Σ n_g·(mean_g − grand)², NOT the algebraically equal
    Σ n_g·mean_g² − N·grand²: the latter subtracts two nearly equal
    large sums, amplifying engine-specific summation-order ulp noise
    past downstream rounding boundaries (the round-4 cross-engine
    hash miss). ``moment_round`` optionally rounds the per-group
    (mean, var) moments to that many decimals before any second-level
    aggregate, so a DuckDB oracle aggregating the same rounded
    moments sees bit-identical inputs.
    """
    v = F.col(value_col)
    per_group = (
        # null group annotations would otherwise form a phantom group
        # (Spark groupBy keeps the null key), inflating n_groups/df1
        # and distorting every F — the two-group path excludes them via
        # its isin filter; the omnibus path must do it explicitly
        long_df.filter(F.col(group_col).isNotNull())
        .groupBy(key_col, group_col)
        .agg(F.count(v).alias("n"), F.avg(v).alias("mean"), F.var_samp(v).alias("var"))
    )
    if moment_round is not None:
        # Same nudge-and-fold-negative-zero formula as the oracle's
        # ROUND(x + 1e-9, d) + 0.0 normalization.
        per_group = per_group.withColumn(
            "mean", F.round(F.col("mean") + F.lit(1e-9), moment_round) + F.lit(0.0)
        ).withColumn(
            "var", F.round(F.col("var") + F.lit(1e-9), moment_round) + F.lit(0.0)
        )
    w = Window.partitionBy(key_col)
    per_group = per_group.withColumn(
        "grand",
        F.sum(F.col("n") * F.col("mean")).over(w) / F.sum("n").over(w),
    )
    dev = F.col("mean") - F.col("grand")
    per_key = (
        per_group.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").alias("n_total"),
            F.min("n").alias("_min_n"),
            F.max("grand").alias("grand"),
            F.sum((F.col("n") - 1) * F.col("var")).alias("_ss_within"),
            F.sum(F.col("n") * dev * dev).alias("_ss_between"),
        )
        .filter((F.col("n_groups") >= 2) & (F.col("_min_n") >= 2))
        .withColumn("df2", F.col("n_total") - F.col("n_groups"))
        .filter(F.col("df2") >= 1)
        .withColumn("s2", F.col("_ss_within") / F.col("df2"))
        .withColumn("ms_between", F.col("_ss_between") / (F.col("n_groups") - 1))
    )
    # prior and moderation both read per_key: uncached, the facts scan twice
    per_key = cache.track(per_key)

    out = (
        _moderate(per_key, _moment_prior(per_key), "df2")
        .withColumn("f_mod", F.col("ms_between") / F.col("s2_post"))
        .withColumn("df1", F.col("n_groups") - 1)
        .withColumn("df2_mod", F.col("d0") + F.col("df2"))
        .select(
            key_col, "n_groups", "n_total", "df1", "df2", "df2_mod",
            "grand", "s2", "ms_between", "s2_post", "f_mod",
        )
    )
    if with_p_values:
        from methyl_data_pipeline_spark.deploy import ensure_importable

        ensure_importable(long_df.sparkSession)
        # limma's moderated F is referred to F_{df1, d0+df2} — the
        # EB-augmented denominator dof
        out = out.withColumn(
            "p_value", _f_sf(F.col("f_mod"), F.col("df1"), F.col("df2_mod"))
        )
    return out
