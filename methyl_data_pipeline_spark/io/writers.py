"""Sinks (reference S7-S9, SURVEY §2.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet_by_run(df: DataFrame, path: str, partition_cols: list[str] | None = None,
                         mode: str = "overwrite") -> None:
    """Partitioned engine-native sink. Reference S9 (main.py:131-167
    split-by-run CSVs) becomes a single partitioned write; downstream
    per-run reads prune partitions for free."""
    if partition_cols is None:
        partition_cols = ["run"]
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header (reference S7: workflow.R:80 etc.)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_excel(df: DataFrame, path: str, max_rows: int = 1_000_000) -> None:
    """Driver-side Excel sink for small results (reference S8:
    filter.py:22,48). Guarded: Excel is not a distributed format.
    Prefers pandas+openpyxl; falls back to the native OOXML writer
    (``io.xlsx``) when no engine is installed."""
    n = df.count()
    if n > max_rows:
        raise ValueError(f"refusing driver-side Excel write of {n} rows")
    pdf = df.toPandas()
    try:
        pdf.to_excel(path, index=False)
    except ImportError:
        from methyl_data_pipeline_spark.io.xlsx import write_xlsx

        write_xlsx(pdf, path)
