"""methyl_data_pipeline_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference methylation pipeline
(``hyunkyoun/methyl_data_pipeline``) as lazy, idiomatic Spark
DataFrame/SQL programs over a long-form fact table, plus
LLM-data-pipeline extensions (dedup, similarity search, text analysis,
multimodal columns) and a Structured Streaming module.

Layout
------
- ``session``    SparkSession builder (Arrow on, AQE on)
- ``model``      canonical long-form schema + wide⇄long converters
- ``cache``      tracked persists and eager lineage cuts
- ``io``         sources & sinks (CSV/Excel/FinalReport/JSONL/parquet, IDAT decoder)
- ``operators``  relational + QC operators (filters, joins, top-k, contract reports)
- ``functions``  scalar expression helpers (M-value, clamp, normalization)
- ``stats``      BH-FDR, limma-style moderated t/F, ComBat, BMIQ, PCA
- ``ext``        dedup / similarity / text-analysis / multimodal
- ``streaming``  Structured Streaming over event tables (``events``; no
                 stateful operators)
- ``plans``      end-to-end pipeline assembly (the workflow.R equivalent)

Every operator is a pure ``DataFrame -> DataFrame`` function: no
mutation, no temp files, no subprocess bridges. Design target is a
1000-executor cluster over ~100 TB; local[*] is only the test harness.
"""

__version__ = "0.1.0"

# Lazy top-level API (PEP 562): the names a reference-pipeline user
# reaches for first, without importing pyspark.ml at package import.
_EXPORTS = {
    "get_session": "methyl_data_pipeline_spark.session",
    "run_methylation_pipeline": "methyl_data_pipeline_spark.plans.pipeline",
    "combat": "methyl_data_pipeline_spark.stats.combat",
    "combat_with_covariates": "methyl_data_pipeline_spark.stats.combat",
    "bmiq_normalize": "methyl_data_pipeline_spark.stats.bmiq",
    "moderated_t_two_group": "methyl_data_pipeline_spark.stats.limma",
    "bh_adjust": "methyl_data_pipeline_spark.stats.bh",
    "bh_adjust_scalable": "methyl_data_pipeline_spark.stats.bh",
    "bh_adjust_grouped": "methyl_data_pipeline_spark.stats.bh",
    "pca_scores": "methyl_data_pipeline_spark.stats.pca",
    "mds_coords": "methyl_data_pipeline_spark.stats.pca",
    "kde_density": "methyl_data_pipeline_spark.stats.density",
}


def __getattr__(name: str):
    target = _EXPORTS.get(name)
    if target is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(target), name)
