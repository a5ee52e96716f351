"""Robust (median/MAD) outlier statistics.

The reference screens bad samples with fixed detection-p thresholds
(workflow.R:44-49 mean-detP gating); this module generalizes that
gate to a data-driven robust rule — flag values more than ``c`` robust
standard deviations from the per-group median, where the robust sd is
1.4826·MAD (the normal-consistency constant). Median/MAD resist the
very outliers being hunted, unlike mean/stddev gates.

Scale shape: two exact per-group ``percentile`` window aggregates over
one group-keyed shuffle — fine while group cardinality is modest (QC
plates, event types). Flags then evaluate JVM-side with no further
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# normal-consistency constant: 1/Phi^-1(3/4)
MAD_K = 1.4826


def mad_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_cols: list[str] | tuple[str, ...] = ("event_type",),
    c: float = 3.0,
) -> DataFrame:
    """Per-row outlier flags: ``is_outlier`` iff
    |value − median| > c · 1.4826 · MAD within the row's group.

    Returns the input columns plus ``grp_median``, ``grp_mad``,
    ``robust_z`` (0 when MAD is 0 — degenerate constant groups never
    flag) and ``is_outlier``.

    Plan: both percentiles run as window aggregates over one
    group-keyed shuffle (two WindowExec passes, one Exchange, one
    scan) — exact ``percentile`` partials carry the full value list per
    group anyway, so a two-agg + two-join form shuffled the same data
    twice and scanned the fact four times for no gain.
    """
    w = Window.partitionBy(*group_cols)
    med_col = F.expr(f"percentile({value_col}, 0.5)").over(w)
    with_med = df.withColumn("grp_median", med_col).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("grp_median"))
    )
    out = with_med.withColumn(
        "grp_mad", F.expr("percentile(_adev, 0.5)").over(w)
    ).drop("_adev")
    robust_z = F.when(
        F.col("grp_mad") > 0,
        F.abs(F.col(value_col) - F.col("grp_median")) / (MAD_K * F.col("grp_mad")),
    ).otherwise(F.lit(0.0))
    return out.withColumn("robust_z", robust_z).withColumn(
        "is_outlier", F.col("robust_z") > c
    )


def mad_outlier_summary(
    df: DataFrame,
    value_col: str = "value",
    group_cols: list[str] | tuple[str, ...] = ("event_type",),
    c: float = 3.0,
) -> DataFrame:
    """Per-group robust-QC report: n, median, MAD, outlier count/rate."""
    gcols = list(group_cols)
    flagged = mad_outliers(df, value_col, gcols, c)
    return flagged.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.first("grp_median").alias("grp_median"),
        F.first("grp_mad").alias("grp_mad"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        (F.sum(F.col("is_outlier").cast("long")) / F.count(F.lit(1))).alias(
            "outlier_rate"
        ),
    )
