"""QC / filtering operators (reference P3-P15, SURVEY §2.2).

Long-form semantics note (SURVEY §7.3 #3): in the reference the wide
outer join encodes "probe missing in a run" as NaN cells
(``filter.py:45-50``); in long form a missing cell is an *absent row*.
Completeness filters therefore count per-probe observations against the
expected number of samples, not just nulls.

All filters are expressed as groupBy-agg + semi/anti join — shuffle on
the grouping key only, map-side partial aggregation automatic, and the
dimension side of every join is broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def drop_incomplete_probes(
    meth: DataFrame,
    n_samples: int | None = None,
    value_col: str = "beta",
) -> DataFrame:
    """Keep probes observed non-null in *every* sample. Reference P3.

    The wide-form ``df.na.drop("any")`` / ``complete.cases`` of
    ``preprocessing/combat_norm.py:28-30`` and ``workflow.R:119-126``.
    ``n_samples``: expected sample count; computed with a cheap
    countDistinct pass when omitted.
    """
    if n_samples is None:
        n_samples = meth.select("sample_id").distinct().count()
    complete = (
        meth.groupBy("probe_id")
        .agg(F.count(F.col(value_col)).alias("_n_obs"))
        .filter(F.col("_n_obs") == n_samples)
        .select("probe_id")
    )
    return meth.join(F.broadcast(complete), "probe_id", "left_semi")


def drop_all_missing_probes(meth: DataFrame, value_col: str = "beta") -> DataFrame:
    """Drop probes with zero non-null observations. Reference P4 (idat.r:80).

    In long form, fully-absent probes usually have no rows at all; this
    additionally drops probes whose every row carries a null value.
    """
    present = (
        meth.groupBy("probe_id")
        .agg(F.count(F.col(value_col)).alias("_n_obs"))
        .filter(F.col("_n_obs") > 0)
        .select("probe_id")
    )
    return meth.join(present, "probe_id", "left_semi")


def filter_cg_probes(meth: DataFrame, probe_col: str = "probe_id") -> DataFrame:
    """Keep only `cg`-prefixed probes (drop rs/ch controls). Reference P6
    (workflow.R:59). A plain rlike predicate — pushes to the scan."""
    return meth.filter(F.col(probe_col).rlike("^cg"))


def drop_sex_chromosomes(meth: DataFrame, probes: DataFrame) -> DataFrame:
    """Drop probes annotated chrX/chrY. Reference P7 (workflow.R:61-62).

    Broadcast anti-join against the (small) probe dimension — no shuffle
    of the fact table.
    """
    sex = probes.filter(F.col("chr").isin("chrX", "chrY")).select("probe_id")
    return meth.join(F.broadcast(sex), "probe_id", "left_anti")


def _good_samples(
    meth: DataFrame, threshold: float, detp_col: str = "det_p"
) -> DataFrame:
    """The retained-sample dimension: samples whose mean detection p
    stays under ``threshold`` (workflow.R:44-49). Single source of the
    sample-gate predicate for the three gate forms below."""
    return (
        meth.groupBy("sample_id")
        .agg(F.avg(F.col(detp_col)).alias("_mean_detp"))
        .filter(F.col("_mean_detp") < threshold)
        .select("sample_id")
    )


def filter_samples_by_detp(
    meth: DataFrame, threshold: float = 0.05, detp_col: str = "det_p"
) -> DataFrame:
    """Drop samples whose mean detection p >= threshold. Reference P8
    (workflow.R:44-49)."""
    good = _good_samples(meth, threshold, detp_col)
    return meth.join(F.broadcast(good), "sample_id", "left_semi")


def detp_retained_samples(
    meth: DataFrame, threshold: float = 0.05, detp_col: str = "det_p"
) -> list[str]:
    """The retained-sample ids of :func:`filter_samples_by_detp`,
    collected to the driver (sorted for determinism).

    Bounded by the samples DIMENSION (thousands even at 100 TB of fact
    rows — the per-sample agg is map-side partial, no shuffle of the
    fact). One action yields both the filter list (an ``isin``
    predicate the scan can push down) and ``len()`` = the retained
    count that the probe-completeness filters need — replacing the
    pipeline's former extra full-table ``distinct().count()`` pass.
    """
    rows = _good_samples(meth, threshold, detp_col).collect()
    return sorted(r[0] for r in rows)


def filter_probes_by_detp(
    meth: DataFrame,
    threshold: float = 0.05,
    n_samples: int | None = None,
    detp_col: str = "det_p",
) -> DataFrame:
    """Keep probes with det_p < threshold in ALL retained samples.
    Reference P9 (workflow.R:51-53).

    Counts failures AND presence: a probe missing from a sample fails
    the "all samples pass" requirement just as a bad det_p does.
    """
    if n_samples is None:
        n_samples = meth.select("sample_id").distinct().count()
    good = (
        meth.groupBy("probe_id")
        .agg(
            F.sum(F.when(F.col(detp_col) >= threshold, 1).otherwise(0)).alias("_n_fail"),
            F.count(F.lit(1)).alias("_n_obs"),
        )
        .filter((F.col("_n_fail") == 0) & (F.col("_n_obs") == n_samples))
        .select("probe_id")
    )
    return meth.join(F.broadcast(good), "probe_id", "left_semi")


def probe_quality_gate(
    meth: DataFrame,
    detp_threshold: float,
    n_samples: int | DataFrame | str,
    value_col: str = "beta",
    detp_col: str = "det_p",
) -> DataFrame:
    """Fused probe gate: :func:`filter_probes_by_detp` +
    :func:`drop_incomplete_probes` in ONE per-probe aggregate and ONE
    broadcast semi-join. The two gates are independent per-probe
    decisions, so their conjunction needs a single groupBy — running
    them as separate operators costs an extra full shuffle + join of
    the fact table for no semantic difference. The good-probe list is
    bounded by the probe dimension (~10^6 at platform scale), hence the
    explicit broadcast: the fact table is never shuffled at all.

    ``n_samples`` may be an int (driver-side known count), a 1-row
    DataFrame with column ``_ns``, or a STRING naming a count column
    already carried on every fact row (the zero-extra-job form
    produced by ``sample_quality_gate`` — VERDICT r12 #1: the 1-row
    frame cost one aggregate job plus one broadcast-cross-join job
    per run for a value the gate's own broadcast already knew). All
    three keep the QC chain action-free.
    """
    agg_cols = [
        F.sum(
            F.when(F.col(detp_col) >= detp_threshold, 1).otherwise(0)
        ).alias("_n_fail"),
        F.count(F.lit(1)).alias("_n_obs"),
        F.count(F.col(value_col)).alias("_n_val"),
    ]
    drop_col: str | None = None
    if isinstance(n_samples, str):
        # every row carries the same count — first() inside the same
        # aggregate, no extra pass, no extra broadcast
        agg_cols.append(F.first(F.col(n_samples)).alias("_ns_exp"))
        drop_col = n_samples
    agg = meth.groupBy("probe_id").agg(*agg_cols)
    if isinstance(n_samples, str):
        expected = F.col("_ns_exp")
    elif isinstance(n_samples, DataFrame):
        agg = agg.crossJoin(F.broadcast(n_samples))
        expected = F.col("_ns")
    else:
        expected = F.lit(n_samples)
    good = agg.filter(
        (F.col("_n_fail") == 0)
        & (F.col("_n_obs") == expected)
        & (F.col("_n_val") == expected)
    ).select("probe_id")
    out = meth.join(F.broadcast(good), "probe_id", "left_semi")
    return out.drop(drop_col) if drop_col else out


def sample_quality_gate(
    meth: DataFrame, threshold: float, detp_col: str = "det_p"
) -> tuple[DataFrame, str]:
    """Lazy twin of :func:`detp_retained_samples`: returns
    ``(filtered_fact, count_col_name)`` with NO driver action — the
    retained-sample dimension joins back by broadcast, and the
    retained-sample COUNT rides along as a column (``_ns``) on every
    fact row for :func:`probe_quality_gate`'s string form. The count
    is a global window over the good-sample dimension INSIDE the same
    broadcast (10²–10⁴ rows in one partition — constant work at any
    fact scale), so deriving it costs zero extra jobs; the previous
    1-row-frame form spent one aggregate job plus one broadcast
    cross-join job per run on it (VERDICT r12 #1).

    Use this form when the fact table is already materialized (a
    persisted frame or a curated table), where an ``isin`` literal
    cannot push into a parquet scan anyway; use
    :func:`detp_retained_samples` on raw scans, where the collected
    id list becomes a scan-pushed predicate.

    BREAKING (r13, flagged in ADVICE r13): the return type changed
    from ``(DataFrame, DataFrame)`` (filtered fact, 1-row count frame)
    to ``(DataFrame, str)``, and the filtered fact now carries the
    injected ``_ns`` count column. Callers of the old form: pass the
    returned frame straight to :func:`probe_quality_gate`, which
    accepts the column-name string (this form) AND the old 1-row
    DataFrame/int forms for ``n_samples``.
    """
    good = _good_samples(meth, threshold, detp_col).withColumn(
        "_ns", F.count(F.lit(1)).over(Window.partitionBy())
    )
    return meth.join(F.broadcast(good), "sample_id"), "_ns"


def dedup_samples(samples: DataFrame, key: str = "basename") -> DataFrame:
    """Drop duplicate sample-sheet rows by key. Reference P12
    (workflow.R:32 ``targets[!duplicated(targets$Basename), ]``)."""
    return samples.dropDuplicates([key])


def audit_membership(
    samples: DataFrame,
    meth: DataFrame,
    key: str = "sample_id",
) -> tuple[DataFrame, DataFrame]:
    """Mismatch report: (in sheet but not in matrix, in matrix but not in
    sheet). Reference P11/J6 (dataset.py:119-143). Anti-joins both ways."""
    matrix_ids = meth.select(key).distinct()
    sheet_only = samples.join(matrix_ids, key, "left_anti")
    matrix_only = matrix_ids.join(samples.select(key).distinct(), key, "left_anti")
    return sheet_only, matrix_only


def health_report(meth: DataFrame, value_col: str = "beta") -> DataFrame:
    """Grand health metrics in ONE pass (reference A10:
    health_check.py:19-22 — cell count, empty cells, distincts). A
    single agg, no per-metric scans."""
    return meth.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.isnull(F.col(value_col)).cast("int")).alias("n_null_values"),
        F.countDistinct("probe_id").alias("n_probes"),
        F.countDistinct("sample_id").alias("n_samples"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def sample_correlation(
    meth: DataFrame,
    value_col: str = "beta",
    sample_col: str = "sample_id",
    key_col: str = "probe_id",
) -> DataFrame:
    """Pairwise sample-sample Pearson correlation over shared probes —
    the standard methylation QC diagnostic for outlier/mislabeled
    samples (minfi's sample QC family; the reference eyeballs the same
    relationship through its density/MDS plots, workflow.R:248-303).

    Plan shape: probe-keyed self-join (``s1 < s2`` halves the pair
    space) + one (s1, s2) groupBy — the same fact-squared-over-probes
    shape as ``stats.pca.gram_matrix``, output n_samples² rows.
    ``corr`` is JVM-side Pearson (scale-invariant, n-1 cancels), so
    the whole operator is codegen expressions.

    At corpus scale with complete cases, prefer the blocked route:
    z-score per probe, run ``stats.pca.gram_matrix_blocked`` (partial
    XᵀX per Arrow batch, O(data) not O(probes·n²)), and divide by
    (n_probes − 1) — Pearson over shared probes is exactly the
    standardized Gram. This exact-join form stays as the oracle plan.
    """
    a = meth.select(
        F.col(key_col).alias("_k"),
        F.col(sample_col).alias("s1"),
        F.col(value_col).alias("_v1"),
    )
    b = meth.select(
        F.col(key_col).alias("_k"),
        F.col(sample_col).alias("s2"),
        F.col(value_col).alias("_v2"),
    )
    pairs = a.join(b, "_k").filter(F.col("s1") < F.col("s2"))
    return pairs.groupBy("s1", "s2").agg(
        F.corr("_v1", "_v2").alias("corr"),
        F.count(F.lit(1)).alias("n_probes"),
    )


def sample_correlation_blocked(
    meth: DataFrame,
    value_col: str = "beta",
    sample_col: str = "sample_id",
    key_col: str = "probe_id",
) -> DataFrame:
    """100 TB scale-path twin of :func:`sample_correlation` over
    COMPLETE CASES: Pearson over shared probes is exactly the
    standardized Gram, so the n×n correlation matrix falls out of the
    same blocked partial-XᵀX kernel PCA uses
    (``stats.pca.blocked_crossprod``) — ONE data-sized shuffle plus an
    n²-sized exchange, where the exact twin's probe-keyed self-join
    shuffles O(probes · n²) rows.

    Plan: complete-case gate (lazy countDistinct broadcast, same shape
    as PCA's ``_centered``) → per-SAMPLE z-scores ((v − mean_s)/sd_s,
    sample stats are an n-sized broadcast) → blocked Σ z₁z₂ → divide
    by (n_probes − 1). With ``stddev_samp`` in the z-score this is
    textbook Pearson; on complete-case input it matches the exact twin
    to float tolerance (partial-sum order differs, so agreement is
    ulp-level, not bitwise — the exact twin stays the oracle plan).
    Constant-valued samples (sd = 0) yield NaN/inf correlations in
    both twins; gate them upstream if the corpus can contain them.
    """
    from methyl_data_pipeline_spark.stats.pca import blocked_crossprod

    clean = meth.filter(F.col(value_col).isNotNull() & ~F.isnan(value_col))
    n_df = clean.select(F.countDistinct(sample_col).alias("_ns"))
    complete = (
        clean.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(n_df), F.col("_n") == F.col("_ns"))
        .select(key_col)
    )
    cc = clean.join(F.broadcast(complete), key_col)
    sstats = cc.groupBy(sample_col).agg(
        F.avg(value_col).alias("_m"),
        F.stddev_samp(value_col).alias("_sd"),
        F.count(F.lit(1)).alias("_nk"),
    )
    z = cc.join(F.broadcast(sstats), sample_col).select(
        key_col,
        sample_col,
        ((F.col(value_col) - F.col("_m")) / F.col("_sd")).alias("_z"),
    )
    # every sample carries the same complete-probe count — take it from
    # the n-sized stats frame, not a global agg over the fact table
    nk_df = sstats.select(F.col("_nk")).limit(1)
    gram = blocked_crossprod(z, "_z", key_col, sample_col)
    return (
        gram.filter(F.col("s1") < F.col("s2"))
        .crossJoin(F.broadcast(nk_df))
        .select(
            "s1",
            "s2",
            (F.col("gram") / (F.col("_nk") - 1)).alias("corr"),
            F.col("_nk").alias("n_probes"),
        )
    )
