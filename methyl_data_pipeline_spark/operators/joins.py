"""Join / combine operators (reference J1-J7, SURVEY §2.3).

The reference's dominant join is the n-way full-outer combine of per-run
wide matrices (``filter.py:45``: ``reduce(pd.merge, how='outer')``). In
long form that entire operation is a ``unionByName`` — no shuffle at
all, because adding a run's samples is adding rows, and "probe missing
in the other run" is simply row absence. The wide variant is kept for
ingest-boundary parity.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


def combine_runs_wide(run_dfs: list[DataFrame], key: str = "TargetID") -> DataFrame:
    """N-way full-outer equi-join of wide per-run matrices on the probe
    key. Reference J1 (filter.py:45, preprocessing/combat_norm.py:17).

    Missing probes surface as NULL cells, matching the reference's NaN
    blocks (filter.py:50). Scale note: fine for ingest-sized column
    counts; the engine converts to long form immediately after.
    """
    return reduce(lambda a, b: a.join(b, key, "full_outer"), run_dfs)


def combine_runs_long(run_dfs: list[DataFrame]) -> DataFrame:
    """Long-form combine: the outer join of wide matrices ≡ a plain
    union of long tables. Zero shuffle; scales to any number of runs."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), run_dfs)


def enrich_with_samples(
    fact: DataFrame, samples: DataFrame, key: str = "sample_id", how: str = "left"
) -> DataFrame:
    """Broadcast-join the sample dimension onto a fact/result table.
    Reference J3 (analysis/pca_analysis.py:52-56).

    Dimension columns the fact already carries (e.g. ``run``, present
    in BOTH canonical schemas) are dropped from the dimension side —
    otherwise the join result holds two same-named columns and any
    later reference raises AMBIGUOUS_REFERENCE."""
    overlap = [c for c in samples.columns if c != key and c in fact.columns]
    dim = samples.drop(*overlap) if overlap else samples
    return fact.join(F.broadcast(dim), key, how)


def rename_samples_by_lookup(
    meth: DataFrame, mapping: DataFrame, from_col: str = "raw_id", to_col: str = "sample_id"
) -> DataFrame:
    """Rewrite sample identifiers via a lookup table. Reference J4
    (main.py:144-153: `{barcode}_{section}` -> Sample ID column rename).

    In long form a "column rename" is a value rewrite of the key:
    broadcast-join the mapping, take the mapped id when present.
    """
    m = mapping.select(F.col(from_col), F.col(to_col).alias("_mapped"))
    out = meth.join(F.broadcast(m), meth["sample_id"] == m[from_col], "left")
    return (
        out.withColumn("sample_id", F.coalesce(F.col("_mapped"), F.col("sample_id")))
        .drop("_mapped", from_col)
    )
