"""Full-matrix quantile normalization.

Forces every sample's value distribution to the common reference
distribution (the per-rank cross-sample mean) — the workhorse
between-array normalization of the methylation toolchain (minfi
``preprocessQuantile`` / limma ``normalizeQuantiles`` family; the
reference applies the same rank→reference quantile transfer inside
BMIQ, ``bmiq/BMIQ_1.4.R:163-181``, per mixture class instead of
globally).

Spark shape — three shuffles, zero UDFs, all whole-stage-codegen:

1. rank within sample:   one hash shuffle on ``sample_col``; the
   per-sample sort happens inside each window partition. Samples are
   the SMALL axis (10²–10⁴) with ~n_probes rows each (~10⁶, a few MB
   of doubles) — one window partition per sample fits an executor
   comfortably at 100 TB total.
2. reference profile:    groupBy(rank).avg — shuffle keyed on rank,
   output is n_probes rows (tiny relative to the fact table).
3. map back:             broadcast join rank → reference mean; the
   fact table is never re-shuffled.

Requires a complete matrix (identical row count per sample) — filter
through :func:`~methyl_data_pipeline_spark.operators.qc.drop_incomplete_probes`
first; ranks beyond a short sample's count would otherwise silently
receive means over fewer samples.

Ties take limma's ``normalizeQuantiles(ties=FALSE)`` semantics: a
deterministic total order (value, then key) assigns tied values
consecutive ranks — reproducible at any partitioning, and exactly
reproducible in ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from methyl_data_pipeline_spark import cache


def quantile_normalize(
    df: DataFrame,
    key_col: str = "probe_id",
    sample_col: str = "sample_id",
    value_col: str = "beta",
    out_col: str = "beta_qn",
) -> DataFrame:
    """Replace ``value_col`` with the cross-sample mean of its
    within-sample rank. Returns ``key_col, sample_col, out_col`` plus
    the source row's other columns, minus the raw value.

    The rank→mean map is broadcast: it has n_keys rows (≤10⁶ probes).
    The ranked frame is persisted (tracked in ``cache``): it feeds
    BOTH the reference-profile aggregate and the map-back join, and
    uncached the per-sample rank window (shuffle + sort of the full
    fact table) runs twice — ReusedExchange shares the shuffle but not
    the sort.
    """
    w = Window.partitionBy(sample_col).orderBy(
        F.col(value_col).asc(), F.col(key_col).asc()
    )
    ranked = cache.track(df.withColumn("_qn_rank", F.row_number().over(w)))
    ref = ranked.groupBy("_qn_rank").agg(F.avg(value_col).alias(out_col))
    return ranked.join(F.broadcast(ref), "_qn_rank").drop("_qn_rank", value_col)
