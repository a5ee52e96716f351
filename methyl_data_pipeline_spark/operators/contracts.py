"""Data-contract checks — the engine mapping of the reference's hard
assertions (SURVEY §5): ``stopifnot(identical(colnames(betas),
targets$ID))`` (workflow.R:39,133), NaN-free + dimension preconditions
before ComBat (preprocessing/combat_norm.py:36-37,67-68), sample-name
alignment (plots.R:16-18), and marker/header presence
(data_parsing.py:18-19).

Design: every contract is evaluated in ONE aggregate pass — a single
``agg`` of conditional counts, never one scan per predicate. Violation
counting is null-strict: a NULL predicate result counts as a VIOLATION
(the reference's ``stopifnot`` treats NA as failure), implemented by
counting rows where the predicate is not TRUE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def check_report(df: DataFrame, predicates: dict[str, Column]) -> DataFrame:
    """One-row DataFrame of violation counts per named predicate —
    rows where the predicate is NOT true (false or null). Lazy; a
    single aggregate pass regardless of predicate count."""
    aggs = [
        F.sum(F.when(p, 0).otherwise(1)).cast("long").alias(name)
        for name, p in predicates.items()
    ]
    return df.agg(*aggs)
