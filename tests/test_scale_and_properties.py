"""Scale patterns (salting equivalence, partition pruning, bucketing)
+ hypothesis property tests (SURVEY §5 plan item 3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from conftest import explain
from methyl_data_pipeline_spark import model
from methyl_data_pipeline_spark.io.writers import write_parquet_by_run
from methyl_data_pipeline_spark.operators.scale import salted_aggregate
from methyl_data_pipeline_spark.stats.bh import bh_adjust


def test_salted_aggregate_equals_plain(spark):
    rng = np.random.RandomState(0)
    # skewed: key 'hot' holds 80% of rows
    keys = ["hot"] * 8000 + [f"k{i}" for i in rng.randint(0, 50, 2000)]
    vals = rng.rand(len(keys))
    df = spark.createDataFrame(pd.DataFrame({"k": keys, "v": vals}))
    got = {
        r["k"]: (r["sum_v"], r["n"])
        for r in salted_aggregate(df, ["k"], ["v"], salt_buckets=8).collect()
    }
    want = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c")).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert abs(got[k][0] - want[k][0]) < 1e-9


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"cg{i}", f"S{i % 4}", str(i % 3), 0.5, 0.01) for i in range(300)],
        ["probe_id", "sample_id", "run", "beta", "det_p"],
    )
    out = str(tmp_path / "by_run")
    write_parquet_by_run(df, out)
    back = spark.read.parquet(out).filter(F.col("run") == "1")
    plan = explain(back)
    assert "PartitionFilters: [isnotnull(run" in plan or "run#" in plan
    # pruned read touches only the run=1 directory
    files = back.select(F.input_file_name()).distinct().collect()
    assert all("run=1" in r[0] for r in files)
    assert back.count() == 100


def test_skew_report_facts(spark):
    """Hand-built skewed frame: one hot key with half the rows; the
    report must name it, rank it first, and get the quantiles right."""
    from methyl_data_pipeline_spark.operators.scale import skew_report

    rows = [(i, "hot") for i in range(100)]
    rows += [(100 + i, f"k{i % 20}") for i in range(100)]  # 20 keys x 5
    df = spark.createDataFrame(rows, "row_id long, k string")
    out = sorted(skew_report(df, ["k"], top_k=3).collect(),
                 key=lambda r: r.rank)
    assert out[0].key == "hot" and out[0].n_rows_key == 100
    assert all(r.n_keys == 21 and r.n_rows == 200 for r in out)
    assert out[0].max_rows == 100 and out[0].p50_rows == 5
    assert len(out) == 3 and out[1].n_rows_key == 5


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed layout: joining two tables bucketed on the same key
    must not shuffle either side (SURVEY §4.3 decision (a))."""
    from methyl_data_pipeline_spark.operators.scale import write_bucketed

    # warehouse dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and are dropped below
    df = spark.createDataFrame(
        [(f"cg{i % 50:04d}", f"S{i % 4}", float(i)) for i in range(1000)],
        ["probe_id", "sample_id", "beta"],
    )
    write_bucketed(df, "t_bucketed_a", ["probe_id"], n_buckets=8)
    write_bucketed(df, "t_bucketed_b", ["probe_id"], n_buckets=8)
    a = spark.table("t_bucketed_a").groupBy("probe_id").count()
    joined = spark.table("t_bucketed_a").join(
        spark.table("t_bucketed_b").groupBy("probe_id").agg(F.avg("beta").alias("m")),
        "probe_id",
    )
    agg_plan = explain(a)
    join_plan = explain(joined)
    # neither the agg nor the join needs an Exchange on the bucket key
    assert "Exchange hashpartitioning(probe_id" not in agg_plan
    assert "Exchange hashpartitioning(probe_id" not in join_plan
    assert joined.count() == 1000 * 1  # 1000 rows x 1 agg row per key
    spark.sql("DROP TABLE t_bucketed_a")
    spark.sql("DROP TABLE t_bucketed_b")


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=1, max_size=40)
)
def test_property_clamp_and_mvalue_finite(spark, betas):
    df = spark.createDataFrame([(float(b),) for b in betas], ["beta"])
    out = df.select(
        model.clamp("beta").alias("c"), model.mvalue("beta").alias("m")
    ).collect()
    for r in out:
        assert 0.0 <= r["c"] <= 1.0
        assert np.isfinite(r["m"])


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(min_value=1e-12, max_value=1.0, allow_nan=False),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
def test_property_bh_monotone_and_bounded(spark, ps):
    df = spark.createDataFrame(
        [(f"k{i}", float(p)) for i, p in enumerate(ps)], ["k", "p_value"]
    )
    out = bh_adjust(df).toPandas().sort_values("p_value")
    # adjusted values are in [p, 1] and monotone in p
    assert (out["adj_p"] <= 1.0 + 1e-12).all()
    assert (out["adj_p"].values >= out["p_value"].values - 1e-12).all()
    assert (np.diff(out["adj_p"].values) >= -1e-12).all()


def test_property_outer_join_rowcount(spark):
    from methyl_data_pipeline_spark.operators.joins import combine_runs_wide

    a = spark.createDataFrame([(f"cg{i}", 0.1) for i in range(10)], ["TargetID", "s1"])
    b = spark.createDataFrame([(f"cg{i}", 0.2) for i in range(5, 20)], ["TargetID", "s2"])
    out = combine_runs_wide([a, b])
    assert out.count() == 20  # |union of keys| >= max input (filter.py:45-50)


def test_health_report(spark, meth, meth_pdf):
    from methyl_data_pipeline_spark.operators.qc import health_report

    r = health_report(meth).collect()[0]
    assert r["n_rows"] == len(meth_pdf)
    assert r["n_null_values"] == int(meth_pdf["beta"].isna().sum())
    assert r["n_probes"] == meth_pdf["probe_id"].nunique()
    assert r["n_samples"] == meth_pdf["sample_id"].nunique()


def test_winnowing_partitioning_invariant(spark):
    """Fingerprint sets must not depend on the physical partitioning —
    the 100-TB guarantee that a repartition can't change results."""
    from methyl_data_pipeline_spark.ext.text import winnow_fingerprints

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared phrasing and payload {i%7}")
         for i in range(40)],
        "doc_id long, text string",
    )
    base = {
        (r.doc_id, r.fingerprint)
        for r in winnow_fingerprints(docs).collect()
    }
    for parts in (1, 3, 17):
        got = {
            (r.doc_id, r.fingerprint)
            for r in winnow_fingerprints(docs.repartition(parts)).collect()
        }
        assert got == base, f"differs at {parts} partitions"


def test_bh_scalable_partitioning_invariant(spark):
    import numpy as np

    from methyl_data_pipeline_spark.stats.bh import bh_adjust_scalable

    rng = np.random.RandomState(33)
    df = spark.createDataFrame(
        [(f"p{i}", float(p)) for i, p in enumerate(rng.uniform(0, 1, 300))],
        "probe_id string, p_value double",
    )
    base = {r.probe_id: r.adj_p for r in bh_adjust_scalable(df, num_partitions=4).collect()}
    for parts in (1, 11):
        got = {
            r.probe_id: r.adj_p
            for r in bh_adjust_scalable(df.repartition(5), num_partitions=parts).collect()
        }
        assert got == base


def test_salting_invariant_under_repartition(spark):
    """Content-derived salt is retry/repartition-safe: the same rows
    produce identical salted aggregates regardless of physical layout
    (seeded F.rand would re-deal salts per partition order)."""
    rng = np.random.RandomState(1)
    keys = ["hot"] * 4000 + [f"k{i}" for i in rng.randint(0, 20, 1000)]
    vals = rng.rand(len(keys))
    base = spark.createDataFrame(pd.DataFrame({"k": keys, "v": vals}))

    def run(df):
        return {
            r["k"]: round(r["sum_v"] / r["n"], 12)
            for r in salted_aggregate(df, ["k"], ["v"], salt_buckets=8).collect()
        }

    narrow = run(base.repartition(1))
    wide = run(base.repartition(64))
    plain = {
        r["k"]: round(r["m"], 12)
        for r in base.groupBy("k").agg(F.avg("v").alias("m")).collect()
    }
    assert narrow == wide
    for k, v in plain.items():
        assert abs(narrow[k] - v) < 1e-9


def test_spread_is_lazy(spark):
    """Composing the LSH/dedup pipeline must not run a Spark job —
    the old df.rdd.getNumPartitions() probe forced physical planning."""
    from methyl_data_pipeline_spark.ext.dedup import _spread

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    _ = _spread(df, "doc_id")  # composition only — no action
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_curation_ops_partitioning_invariant(spark):
    """repetition_signals_scan / quality_filter_scan / domain_mix are
    per-row or map-side-combined — a repartition can't change results
    (the 100-TB guarantee)."""
    from methyl_data_pipeline_spark.ext.text import (
        domain_mix,
        quality_filter_scan,
        repetition_signals_scan,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    for fn in (repetition_signals_scan, quality_filter_scan):
        assert snap(fn(docs.repartition(1))) == snap(fn(docs.repartition(64)))
    assert snap(domain_mix(docs.repartition(1))) == snap(domain_mix(docs.repartition(64)))


def test_quantile_normalize_partitioning_invariant(spark):
    """QN's rank window orders by (value, key) — a deterministic total
    order — so physical layout cannot change a single output value."""
    from methyl_data_pipeline_spark.stats.quantile_norm import quantile_normalize

    rng = np.random.RandomState(5)
    # duplicate values on a coarse grid force rank tie-breaking
    rows = [
        (f"cg{p:04d}", f"S{s}", round(float(rng.choice([0.1, 0.25, 0.5, 0.5, 0.8])), 6))
        for p in range(150)
        for s in range(4)
    ]
    df = spark.createDataFrame(rows, "probe_id string, sample_id string, beta double")

    def snap(d):
        return {
            (r.probe_id, r.sample_id): round(r.beta_qn, 12)
            for r in quantile_normalize(d).collect()
        }

    assert snap(df.repartition(1)) == snap(df.repartition(64))


def test_dmr_regions_partitioning_invariant(spark):
    """Segment breaks come from a (chrom, pos)-ordered window; the
    aggregate uses order-insensitive min/max/avg — repartition-proof."""
    from methyl_data_pipeline_spark.stats.dmr import call_dmrs

    rng = np.random.RandomState(11)
    rows = [
        (f"chr{c}", int(p), float(t))
        for c in range(1, 4)
        for p, t in zip(
            sorted(rng.choice(range(1000), 120, replace=False)),
            rng.normal(0, 1.6, 120),
        )
    ]
    df = spark.createDataFrame(rows, "chrom string, pos int, t_mod double")

    def snap(d):
        return sorted(
            (r.chrom, r.start_pos, r.end_pos, r.n_probes, round(r.mean_stat, 12), r.direction)
            for r in call_dmrs(d, cutoff=1.0, maxgap=50, min_probes=2).collect()
        )

    assert snap(df.repartition(1)) == snap(df.repartition(64))


def test_contraction_partitioning_invariant(spark):
    """Star contraction's per-round min-aggregates are commutative —
    components must match at any input layout, including a long chain
    (the adversarial case propagation can't handle)."""
    from methyl_data_pipeline_spark.ext.graph import connected_components_contraction

    # a 60-node chain + two separate triangles + isolated self-loop
    edges = [(i, i + 1) for i in range(60)]
    edges += [(100, 101), (101, 102), (102, 100), (200, 201), (201, 202), (300, 300)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    def snap(d):
        return sorted(
            (r.node, r.component)
            for r in connected_components_contraction(d).collect()
        )

    base = snap(df.repartition(1))
    assert base == snap(df.repartition(64))
    # chain collapses to min-id 0; triangles to 100 / 200
    comp = dict(base)
    assert all(comp[i] == 0 for i in range(61))
    assert comp[102] == 100 and comp[202] == 200 and comp[300] == 300


def test_quality_gate_is_scan_side(spark):
    """The curation quality gate must stay a pure scan-side filter —
    zero exchanges in its physical plan (the 100-TB reason the verdict
    is a Column expression, not a verdict-projection self-join)."""
    from methyl_data_pipeline_spark.ext.text import quality_reject_reasons

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = docs.filter(quality_reject_reasons() == F.lit(""))
    plan = explain(kept)
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_segment_dedup_skewed_boilerplate(spark):
    """Skew hardening (VERDICT r4 #7): when one boilerplate segment
    dominates the corpus (90% of docs), the winners shuffle funnels
    most rows to ONE segment key. The min-struct agg must (a) still
    produce exactly the first-occurrence semantics a local oracle
    computes, at any partitioning, and (b) keep a map-side partial
    aggregate in the plan — the mechanism that bounds the straggler's
    input to one pre-combined row per map task at 100 TB."""
    import re

    from methyl_data_pipeline_spark.ext.dedup import segment_dedup

    boiler = "shared boilerplate header line"
    docs = []
    for i in range(200):
        uniq = " ".join(f"tok{i}w{j}" for j in range(8))
        text = f"{boiler} {uniq}" if i % 10 != 0 else uniq
        docs.append((f"d{i:04d}", text))

    def local_oracle(rows):
        chunks = {}
        for d, t in rows:
            # case-preserving: only whitespace is normalized (ADVICE r5
            # — dedup output feeds training, casing must survive)
            words = re.sub(r"\s+", " ", t.strip()).split(" ")
            chunks[d] = [" ".join(words[k:k + 4]) for k in range(0, len(words), 4)]
        first = {}
        for d in sorted(chunks):
            for p, s in enumerate(chunks[d]):
                if s not in first or (d, p) < first[s]:
                    first[s] = (d, p)
        return {
            d: (
                len(ch),
                sum(1 for p, s in enumerate(ch) if first[s] == (d, p)),
                " ".join(s for p, s in enumerate(ch) if first[s] == (d, p)),
            )
            for d, ch in chunks.items()
        }

    want = local_oracle(docs)
    df = spark.createDataFrame(docs, "doc_id string, text string")
    for parts in (1, 32):
        out = segment_dedup(df.repartition(parts)).collect()
        got = {r["doc_id"]: (r["n_segs"], r["n_kept"], r["text_dedup"]) for r in out}
        assert got == want, f"mismatch at repartition({parts})"

    # the dominant key survives exactly once, in its first doc
    assert want["d0001"][2].startswith(boiler)
    dominated = [d for d, t in docs if t.startswith(boiler) and d != "d0001"]
    spark_got = {r["doc_id"]: r["text_dedup"] for r in segment_dedup(df).collect()}
    assert all(not spark_got[d].startswith(boiler) for d in dominated)

    # map-side combine: the winners agg must be a two-phase
    # HashAggregate (partial + final) around its exchange
    plan = explain(segment_dedup(df))
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan or "partial_" in plan


@given(
    st.lists(st.text(alphabet="abcdefgh ", min_size=1, max_size=40),
             min_size=1, max_size=25, unique=True),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=15, deadline=None)
def test_property_bloom_never_false_negative(spark, bench_texts, seed):
    """For ANY benchmark shingle set, every true member passes the
    Bloom membership test (no false negatives, the filter's defining
    guarantee) — checked via the same md5 hash both sides use."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.dedup import (
        bloom_build,
        bloom_contains,
    )
    from methyl_data_pipeline_spark.ext.text import md5_long

    pdf = pd.DataFrame({"s": [f"{seed}|{t}" for t in bench_texts]})
    hashes = spark.createDataFrame(pdf).select(md5_long(F.col("s")).alias("_h"))
    words = bloom_build(hashes, "_h", m_bits=1 << 12, k=4)
    probed = bloom_contains(hashes, "_h", words, m_bits=1 << 12, k=4)
    assert probed.filter(~F.col("_bloom_hit")).count() == 0


def test_curate_partitioning_invariant(spark):
    """The five-stage curation chain is deterministic under arbitrary
    input partitioning: a 1-partition layout and a hash-scrambled
    13-partition layout yield identical window placements."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.plans.curation import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)

    def run(c):
        return sorted(
            (r.source, r.doc_id, r.n_tokens, r.bin_idx, r.bin_offset, r.spans_boundary)
            for r in curate(c, bench, window_tokens=512).collect()
        )

    a = run(corpus.coalesce(1))
    b = run(corpus.repartition(13, F.col("doc_id")))
    assert a == b and len(a) > 0


def test_layout_sorted_write_enables_file_skipping(spark, tmp_path):
    """layout_sorted_write must produce parquet files with DISJOINT
    key ranges (footer min/max), so a point predicate can prune all
    but one file — verified directly from the parquet footers."""
    import pyarrow.parquet as pq
    import glob as globmod

    from methyl_data_pipeline_spark.operators.scale import layout_sorted_write

    df = spark.range(0, 20_000).withColumn(
        "k", (F.col("id") * 2654435761 % 97).cast("long")
    )
    out = str(tmp_path / "layout")
    layout_sorted_write(df, out, ["k"], n_files=8)

    ranges = []
    for f in globmod.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1,hi1)} {(lo2,hi2)}"
    # and the scan actually prunes: predicate touches one file's range
    got = spark.read.parquet(out).filter(F.col("k") == 42).count()
    want = df.filter(F.col("k") == 42).count()
    assert got == want > 0


@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1, max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_property_bh_grouped_equals_window(spark, raw_ps):
    """bh_adjust_grouped is bit-identical to the window BH for ANY
    p-list (rounded to bounded cardinality, ties and endpoints
    included)."""
    from methyl_data_pipeline_spark.stats.bh import bh_adjust, bh_adjust_grouped

    ps = [round(p, 2) for p in raw_ps]  # force heavy ties
    rows = [(f"k{i}", float(p)) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "k string, p_value double")
    ref = {r.k: r.adj_p for r in bh_adjust(df).collect()}
    got = {r.k: r.adj_p for r in bh_adjust_grouped(df).collect()}
    assert got == ref


def test_run_corpus_pipeline_end_to_end(spark, tmp_path):
    """curate -> hash split -> pack -> clustered parquet write:
    splits are disjoint, exhaustive over the curated set, and
    byte-reproducible on a re-run."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.plans.corpus import run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)

    out = str(tmp_path / "corpus_v1")
    res = run_corpus_pipeline(
        corpus, bench, out_dir=out, window_tokens=512,
        weights=(0.8, 0.1, 0.1), files_per_split=2,
    )
    total = res.placements.count()
    assert sum(res.split_counts.values()) == total > 300
    # disjoint: every doc id appears in exactly one split dir
    ids = {}
    for name, path in res.split_paths.items():
        for r in spark.read.parquet(path).select("doc_id").collect():
            assert r.doc_id not in ids, (r.doc_id, name, ids[r.doc_id])
            ids[r.doc_id] = name
    assert len(ids) == total
    # deterministic re-run: identical placements and splits
    out2 = str(tmp_path / "corpus_v2")
    res2 = run_corpus_pipeline(
        corpus, bench, out_dir=out2, window_tokens=512,
        weights=(0.8, 0.1, 0.1), files_per_split=2,
    )
    a = sorted(map(tuple, res.placements.collect()))
    b = sorted(map(tuple, res2.placements.collect()))
    assert a == b


def test_window_winner_dedup_partitioning_invariant(spark):
    """The round-7 window-winner elections (dedup_exact,
    dedup_keep_best, segment_dedup, incremental_dedup's within-shard
    stage) are deterministic total orders — repartitioning the input
    cannot change any winner (the 100-TB guarantee), including for
    NULL dedup keys, which partitionBy groups like groupBy did."""
    from methyl_data_pipeline_spark.ext.dedup import (
        dedup_exact,
        dedup_keep_best,
        incremental_dedup,
        segment_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ledger = spark.createDataFrame(
        [(1,), (2,)], "fingerprint long"
    ).filter("fingerprint < 0")  # empty ledger, stable schema

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    for parts in (1, 64):
        rp = docs.repartition(parts)
        if parts == 1:
            base_exact = snap(dedup_exact(rp))
            base_seg = snap(segment_dedup(rp))
            base_inc = snap(incremental_dedup(rp, ledger)[0])
        else:
            assert snap(dedup_exact(rp)) == base_exact
            assert snap(segment_dedup(rp)) == base_seg
            assert snap(incremental_dedup(rp, ledger)[0]) == base_inc

    # NULL-key family must elect exactly one winner (highest score,
    # min id), same as the old eqNullSafe join semantics
    scored = spark.createDataFrame(
        [(1, None, 5.0), (2, None, 9.0), (3, None, 9.0), (4, "k", 1.0)],
        "doc_id long, fam string, score double",
    )
    got = {(r.fam, r.doc_id) for r in dedup_keep_best(scored, "fam", "score").collect()}
    assert got == {(None, 2), ("k", 4)}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),   # score
            st.integers(min_value=1, max_value=500),   # n_tokens
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=20_000),        # budget
)
def test_property_budget_select_exact_prefix(spark, rows, budget):
    """For ANY scores/token counts/budget, the distributed budget
    selection equals the Python-computed greedy prefix exactly."""
    from methyl_data_pipeline_spark.ext.pack import budget_select

    data = [(i, s, t) for i, (s, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, score long, n_tokens long")
    got = sorted(
        (r.doc_id, r.rank, r.cum_tokens)
        for r in budget_select(df, "score", "n_tokens", budget=budget,
                               num_partitions=3).collect()
    )
    ordered = sorted(data, key=lambda x: (-x[1], x[0]))
    want, acc = [], 0
    for rank, (i, s, t) in enumerate(ordered, 1):
        acc += t
        if acc > budget:
            break
        want.append((i, rank, acc))
    assert got == sorted(want)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=700), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=8),
)
def test_property_length_batches_accounting(spark, lengths, batch_size):
    """For ANY doc lengths/batch size: every doc lands in exactly one
    batch, batches never exceed batch_size, bucket caps hold, and
    padding reconciles."""
    from methyl_data_pipeline_spark.ext.pack import length_bucket_batches

    rows = [(i, "w " * n if n else "") for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_bucket_batches(df, batch_size=batch_size, n_shards=3).collect()
    assert sum(r.n_docs for r in out) == len(lengths)
    total_tokens = sum(r.sum_tokens for r in out)
    for r in out:
        assert 1 <= r.n_docs <= batch_size
        assert r.max_tokens <= r.bucket
        assert r.padding == r.n_docs * r.max_tokens - r.sum_tokens
    # token accounting: "" tokenizes to one empty token (size 1)
    assert total_tokens == sum(max(n, 1) for n in lengths)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_property_exact_substring_matches_reference(spark, token_docs):
    """On tiny-vocab corpora (dense gram collisions), the distributed
    ExactSubstr cut equals a brute-force Python reference exactly:
    same kept text, same removal counts, first-occurrence doc keeps
    its copy."""
    from methyl_data_pipeline_spark.ext.dedup import exact_substring_dedup

    n = 3  # gram size
    docs = {i: toks for i, toks in enumerate(token_docs)}
    # reference: gram -> (count, first doc); covered positions per doc
    occ: dict[tuple, list] = {}
    for i, toks in docs.items():
        for p in range(max(len(toks) - n + 1, 0)):
            occ.setdefault(tuple(toks[p:p + n]), []).append((i, p))
    covered: dict[int, set] = {i: set() for i in docs}
    for gram, sites in occ.items():
        if len(sites) < 2:
            continue
        first_doc = min(i for i, _ in sites)
        for i, p in sites:
            if i != first_doc:
                covered[i].update(range(p, p + n))
    want = {}
    for i, toks in docs.items():
        kept = [t for j, t in enumerate(toks) if j not in covered[i]]
        want[i] = (len(toks), len(toks) - len(kept), " ".join(kept))

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_dedup)
        for r in exact_substring_dedup(df, gram_n=n).collect()
    }
    # empty token list writes as "" which tokenizes to [''] (1 token)
    for i, toks in docs.items():
        if not toks:
            want[i] = (1, 0, "")
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),            # user
            st.integers(min_value=0, max_value=50),           # minute
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_property_funnel_and_cohort_match_reference(spark, events):
    """For ANY event stream: funnel stage times equal the nested
    strict-minimum reference; cohort cells equal a direct Python
    count. Same-minute duplicate events and out-of-order inserts
    included by construction."""
    from methyl_data_pipeline_spark.streaming.events import (
        cohort_retention,
        funnel_steps,
    )

    rows = [
        (i, f"2024-01-01 00:{m % 60:02d}:{(m // 60) * 7:02d}", u, et, 1.0)
        for i, (u, m, et) in enumerate(events)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    # ---- funnel reference: nested strict mins
    per_user: dict[int, list] = {}
    for _, (u, m, et) in zip(rows, events):
        per_user.setdefault(u, []).append((m, et))
    want_f = {}
    for u, evs in per_user.items():
        t_prev = None
        stages = []
        for step in ("view", "click", "purchase"):
            cands = [m for m, et in evs if et == step
                     and (t_prev is None or m > t_prev)]
            t_prev = min(cands) if cands else None
            stages.append(t_prev)
            if t_prev is None:
                break
        stages += [None] * (3 - len(stages))
        want_f[u] = tuple(stages)
    got_f = {
        r.user_id: tuple(
            None if t is None else t.minute + t.hour * 60
            for t in (r.t_view, r.t_click, r.t_purchase)
        )
        for r in funnel_steps(ev).collect()
    }
    assert got_f == want_f

    # ---- cohort reference (events all inside one epoch week here:
    # offsets are 0, cells are per-cohort distinct-user counts)
    first = {u: min(m for m, _ in evs) for u, evs in per_user.items()}
    got_c = {(r.cohort_week, r.week_offset): r.n_users
             for r in cohort_retention(ev).collect()}
    assert sum(got_c.values()) >= len(per_user)
    assert all(off == 0 for (_, off) in got_c)  # all within one week
    assert sum(got_c.values()) == len(per_user)


def test_r7_operators_partitioning_invariant(spark):
    """The newest corpus operators must emit identical results at any
    input partitioning — no winner, span cut, batch, or pair may
    depend on physical row placement."""
    from methyl_data_pipeline_spark.ext.dedup import (
        exact_substring_dedup,
        simhash_hamming_pairs,
    )
    from methyl_data_pipeline_spark.ext.pack import temperature_sample
    from methyl_data_pipeline_spark.ext.text import vocab_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    base = {}
    for parts in (1, 64):
        rp = docs.repartition(parts)
        outs = {
            "exact_substring": snap(exact_substring_dedup(rp)),
            "simhash_pairs": snap(simhash_hamming_pairs(rp)),
            "temperature": snap(temperature_sample(rp).select("doc_id", "source")),
            "vocab": snap(vocab_coverage(rp, top_k=50)),
        }
        if parts == 1:
            base = outs
        else:
            for k, v in outs.items():
                assert v == base[k], k


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),    # bucket id
            st.integers(min_value=0, max_value=999),  # member id (deduped below)
        ),
        min_size=0,
        max_size=80,
    ),
    st.integers(min_value=2, max_value=12),            # max_bucket
)
def test_property_bucket_pair_expand_equals_brute(spark, rows, cap):
    """For ANY bucket assignment and ANY cap, the kernel's output —
    across whichever mix of HOF-expansion and adaptive-salted-join
    paths the cap induces — equals brute-force within-bucket pairs."""
    from methyl_data_pipeline_spark.ext.dedup import bucket_pair_expand

    data = sorted({(b, m) for b, m in rows})  # unique (bucket, member)
    # a member may sit in several buckets (like a doc in several bands)
    df = spark.createDataFrame(
        [(m, f"b{b}") for b, m in data] or [(0, "b0")][:0],
        "id long, bucket string",
    )
    if not data:
        return
    got = sorted(
        (r["_a"]["id"], r["_b"]["id"])
        for r in bucket_pair_expand(
            df, ["bucket"], F.struct(F.col("id").alias("id")), max_bucket=cap
        ).collect()
    )
    from collections import defaultdict

    members = defaultdict(list)
    for b, m in data:
        members[b].append(m)
    want = sorted(
        (a, c)
        for ms in members.values()
        for i, a in enumerate(sorted(ms))
        for c in sorted(ms)[i + 1:]
    )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=4, max_size=4,
        ),
        min_size=1, max_size=8,
    )
)
def test_quantize_embeddings_invariants(spark, vecs):
    """For ANY finite nonzero vector: every code is in [-127, 127],
    the max-magnitude component maps to ±127, and dequantization error
    per component is bounded by scale/2 (round-half-up)."""
    from methyl_data_pipeline_spark.ext.similarity import quantize_embeddings

    # quantizable = nonzero AND scale does not underflow (a subnormal
    # max|x| < 127 * 4.9e-324 gives scale = 0.0 — the hypothesis find
    # that added the scale > 0 drop clause)
    rows = [
        (i, v) for i, v in enumerate(vecs)
        if any(x != 0.0 for x in v) and max(abs(x) for x in v) / 127 > 0
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = quantize_embeddings(df).collect()
    assert len(got) == len(rows)
    by_id = {r.vec_id: r for r in got}
    for i, v in rows:
        r = by_id[i]
        assert all(-127 <= q <= 127 for q in r.qvec)
        assert max(abs(q) for q in r.qvec) == 127
        for x, q in zip(v, r.qvec):
            assert abs(x - q * r.scale) <= r.scale / 2 + 1e-12


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_quantization_recall_bounds_and_drift_symmetry(spark, seed):
    """recall_ri always lands in [0, 1e6] with n_overlap <= n_exact <= k;
    embedding_drift's z statistic is symmetric under snapshot swap."""
    import numpy as np

    from methyl_data_pipeline_spark.ext.similarity import (
        embedding_drift,
        quantization_recall,
    )

    rng = np.random.RandomState(seed)
    vecs = rng.normal(size=(12, 6)).round(3).tolist()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id") < 3)
    k = 4
    for r in quantization_recall(df, queries, k=k).collect():
        assert 1 <= r.n_exact <= k
        assert 0 <= r.n_overlap <= r.n_exact
        assert 0 <= r.recall_ri <= 1_000_000
    old = df.filter(F.col("vec_id") % 2 == 0)
    new = df.filter(F.col("vec_id") % 2 == 1)
    fwd = {r.dim: r.drift_z for r in embedding_drift(old, new).collect()}
    rev = {r.dim: r.drift_z for r in embedding_drift(new, old).collect()}
    assert set(fwd) == set(rev)
    for d in fwd:
        if fwd[d] is None:
            assert rev[d] is None
        else:
            assert abs(fwd[d] - rev[d]) < 1e-9
