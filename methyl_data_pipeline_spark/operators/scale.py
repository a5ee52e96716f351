"""Scale patterns: skew salting, bucketed layout, co-located joins.

These are the knobs the 100 TB deployment turns that local tests can't
show the need for (SURVEY §4.2-4.3): a handful of hot probes/samples
(control probes appear in every run; a mega-batch dwarfs others) skew
the shuffle, and repeated probe-keyed joins deserve a bucketed layout
so they co-locate without re-shuffling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _content_salt(df: DataFrame, buckets: int) -> Column:
    """Row-content-derived salt: ``crc32(all columns) mod buckets``.

    NOT ``F.rand(seed=...)``: seeded rand is partition-order-dependent,
    so a stage retry or an AQE repartition between the two aggregation
    stages can re-deal salts and double-count partials. A content hash
    is retry-safe — the same row always lands in the same salt bucket
    (identical rows collide into one bucket, which only matters if the
    skew IS massive exact duplication; values in real data differ).
    """
    return F.pmod(
        F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns])),
        F.lit(buckets),
    ).cast("int")


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    sum_cols: list[str] | None = None,
    count: bool = True,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys.

    Stage 1 groups by (key, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; stage 2 combines the partials by key.
    Only algebraic aggregates (sum/count, and means derived from them)
    decompose this way; use AQE skew-join handling for the rest.
    """
    sum_cols = sum_cols or []
    salted = df.withColumn("_salt", _content_salt(df, salt_buckets))
    partial_aggs = [F.sum(c).alias(f"_sum_{c}") for c in sum_cols]
    if count:
        partial_aggs.append(F.count(F.lit(1)).alias("_cnt"))
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_aggs)

    final_aggs = [F.sum(f"_sum_{c}").alias(f"sum_{c}") for c in sum_cols]
    if count:
        final_aggs.append(F.sum("_cnt").alias("n"))
    return partial.groupBy(*key_cols).agg(*final_aggs)


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 5,
) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key row counts summarized as
    the fleet-planning facts a shuffle tuner needs — how many distinct
    keys, the median/p99/max key frequency, the share of all rows held
    by the single hottest key, and the ``top_k`` heaviest keys
    themselves. THIS is the number that decides between plain AQE,
    :func:`salted_aggregate`, and :func:`with_salted_key` before a
    100 TB join melts one reducer.

    One key-keyed aggregate (map-side combined) producing a
    key-cardinality frame, PERSISTED because both the summary branch
    and the top-k branch consume it (the branch-recompute trap — an
    unpersisted counts frame re-runs the corpus agg per branch).
    Top-k is a distributed take-ordered; the rank window runs on the
    ``top_k``-row frame only. Integer channels throughout so the
    report is engine-hash-stable (exact percentile of counts collects
    the key-cardinality count list to one reducer — fine for a
    diagnostic; swap to approx_percentile at open-ended cardinality).
    """
    from pyspark.sql import Window

    from methyl_data_pipeline_spark import cache

    key_repr = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    counts = cache.track(
        df.groupBy(key_repr.alias("_key")).agg(F.count(F.lit(1)).alias("_n"))
    )
    summary = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_n").cast("long").alias("n_rows"),
        # FLOOR before the integer cast: Spark CAST(double AS BIGINT)
        # truncates while other engines round — floor on both sides
        # pins the emitted integer
        F.expr("CAST(FLOOR(percentile(_n, 0.5)) AS BIGINT)").alias("p50_rows"),
        F.expr("CAST(FLOOR(percentile(_n, 0.99)) AS BIGINT)").alias("p99_rows"),
        F.max("_n").cast("long").alias("max_rows"),
    )
    top = counts.orderBy(F.col("_n").desc(), F.col("_key").asc()).limit(top_k)
    w = Window.orderBy(F.col("_n").desc(), F.col("_key").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(summary))
        .select(
            "rank",
            F.col("_key").alias("key"),
            F.col("_n").cast("long").alias("n_rows_key"),
            "n_keys", "n_rows", "p50_rows", "p99_rows", "max_rows",
        )
        .orderBy("rank")
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist with a bucketed layout so later joins/aggs on the bucket
    key co-locate without a shuffle (SURVEY §4.3 decision (a): bucket
    the long fact table by probe_id after first write)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def with_salted_key(df: DataFrame, key_col: str, hot_keys: list[str], salt_buckets: int = 8) -> DataFrame:
    """Explicit hot-key salting for joins: append `#salt` to known hot
    keys (the replicated small side must be exploded to match). AQE's
    skewJoin handles most cases; this is the manual override for
    catastrophic skew."""
    return df.withColumn(
        key_col,
        F.when(
            F.col(key_col).isin(hot_keys),
            F.concat(
                F.col(key_col), F.lit("#"), _content_salt(df, salt_buckets)
            ),
        ).otherwise(F.col(key_col)),
    )


def layout_sorted_write(
    df: DataFrame,
    path: str,
    layout_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Data-skipping layout: range-repartition by ``layout_cols`` then
    sort within each partition before writing parquet.

    Parquet footers carry per-file / per-row-group min-max statistics;
    a scan with a predicate on ``layout_cols`` prunes every file whose
    range misses it — but only if the writer CLUSTERED the values.
    Range partitioning gives globally disjoint per-file ranges (file k
    holds keys strictly below file k+1), so a point or range predicate
    touches O(1) of the files instead of all of them — the single
    cheapest lever for 100 TB scan cost after partition pruning, and
    the flat-file analogue of ``write_bucketed``'s sorted buckets.

    ``n_files``: target file count (defaults to the session's shuffle
    parallelism). This is the "compact + cluster" maintenance pass a
    hot table gets after heavy appends.
    """
    if n_files is not None and n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    cols = [F.col(c) for c in layout_cols]
    part = (
        df.repartitionByRange(n_files, *cols)
        if n_files is not None
        else df.repartitionByRange(*cols)
    )
    part.sortWithinPartitions(*cols).write.mode(mode).parquet(path)
