"""Top-k operators (reference W1/O1/O2, SURVEY §2.5-2.6)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def top_k_by(df: DataFrame, order_col: str | Column, k: int, ascending: bool = False,
             tiebreak: str | None = None) -> DataFrame:
    """Global top-k. Reference W1/O1 (top10k.py:11, workflow.R:156-158).

    ``orderBy().limit(k)`` plans as TakeOrderedAndProject — each task
    keeps a k-sized heap, only k rows per partition reach the driver;
    no global sort even at 100 TB. ``tiebreak`` adds a deterministic
    secondary key so results are stable under equal values.
    """
    c = F.col(order_col) if isinstance(order_col, str) else order_col
    order = [c.asc() if ascending else c.desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, k: int, ascending: bool = False,
    tiebreak: str | None = None, rank_name: str = "rank",
) -> DataFrame:
    """Per-group top-k via row_number window — single shuffle on the
    group key; AQE handles skewed groups."""
    c = F.col(order_col)
    order = [c.asc() if ascending else c.desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )
