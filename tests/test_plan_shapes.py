"""Physical-plan-shape invariants.

These pin the *mechanism* of the landed optimizations, not the output
(output parity is covered by the oracle batteries and the existing
operator tests): if a Spark upgrade or a refactor re-enables the
pathological plan shape, these fail before the bench does.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, explain


def _distinct_persists(plan: str) -> set[str]:
    """The distinct cached plans an explain output reads. References to
    one cache render with re-mapped expression ids (#0L vs #56L), so
    the ids are stripped before deduping the full Arguments line."""
    return {
        re.sub(r"#\d+", "", ln.strip())
        for ln in plan.splitlines()
        if ln.strip().startswith("Arguments:") and "StorageLevel" in ln
    }


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_curate_batch_twin_gate_stays_above_the_exchange(docs):
    """r15: the quality gate must evaluate POST-exchange via the
    non-materializing pushdown guard — every Filter block that carries
    the gate expression (marker: the 'too_short' reject label) must
    also reference the nondeterministic ``_bar`` guard column. If
    Catalyst ever splits the conjunction or sinks the gate without the
    guard (re-serializing it onto the 1-partition local scan), a
    gate-bearing Filter appears without ``_bar`` and this fails."""
    from methyl_data_pipeline_spark.streaming.events import curate_batch_twin

    plan = explain(curate_batch_twin(docs), "formatted")
    blocks = [b for b in plan.split("\n(") if b.startswith(tuple("0123456789"))]
    gate_blocks = [b for b in blocks if "too_short" in b and ") Filter" in b.splitlines()[0]]
    assert gate_blocks, "quality gate filter not found in the plan"
    for b in gate_blocks:
        assert "_bar" in b, (
            "gate filter lost its pushdown guard — it can sink below "
            "the repartition exchange onto the serial scan:\n" + b[:500]
        )
    # the r14 full-width barrier persist must stay gone
    assert "InMemoryRelation" not in plan


def test_curate_plan_has_exactly_one_narrow_persist(docs):
    """r15: plans.curation.curate keeps ONE InMemoryRelation (the
    narrow survivors-only frame) — the r14 full-width corpus barrier
    persist must not come back (VERDICT r14 #1: bimodal at 32 cores,
    materializes the corpus at scale)."""
    from methyl_data_pipeline_spark.plans.curation import curate

    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    plan = explain(curate(corpus, bench), "formatted")
    # distinct cached plans, not reference counts: the narrow red frame
    # may legitimately be referenced many times.
    cached_cols = _distinct_persists(plan)
    assert len(cached_cols) <= 1, (
        f"expected at most one distinct persist in the curate plan, "
        f"saw {len(cached_cols)}: {sorted(cached_cols)}"
    )
    # and the full-width text column must not be what is cached: the
    # persisted frame carries only the normalized projection
    for c in cached_cols:
        assert "_norm" in c, f"persisted frame is not the narrow red frame: {c}"


def test_bpe_encode_word_stream_is_spread(docs):
    """r15: bpe_encode repartitions the corpus before the tokenize
    explode, so the token-stream-sized posexplode + cache fill never
    run on the single-partition local scan."""
    from methyl_data_pipeline_spark.ext.text import bpe_encode

    plan = explain(bpe_encode(docs, [("t", "h")]), "formatted")
    assert "hashpartitioning(doc_id" in plan, (
        "bpe_encode lost the word-stream spread — the tokenize explode "
        "will serialize on a 1-partition scan"
    )


def test_combat_plan_has_one_eb_kernel_and_one_persisted_z(spark):
    """ComBat runs exactly one Arrow kernel (the EB fixed point) and
    persists exactly one frame, the standardized ``z``: it feeds both
    the pass-4 moments and the final adjustment join, so without the
    persist the fact-table lineage runs twice."""
    from methyl_data_pipeline_spark import cache
    from methyl_data_pipeline_spark.stats.combat import combat

    rows = [
        (f"cg{p:03d}", f"s{s}", f"R{s % 2}", 0.1 * p + 0.01 * s * s)
        for p in range(20)
        for s in range(6)
    ]
    df = spark.createDataFrame(rows, ["probe_id", "sample_id", "run", "beta"])
    try:
        plan = explain(combat(df), "formatted")
    finally:
        cache.release_all()
    kernels = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)
    assert len(kernels) == 1, plan
    persists = _distinct_persists(plan)
    assert len(persists) == 1, sorted(persists)
    assert re.search(r"[\[ ]z[,\]]", next(iter(persists))), persists


def _run_pipeline(spark, inputs, run_bmiq=True, run_combat=True, **kw):
    from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline

    meth, probes, samples = (
        spark.read.parquet(str(inputs / f))
        for f in ("meth.parquet", "probes.parquet", "samples.parquet")
    )
    return run_methylation_pipeline(
        meth, probes, samples, run_bmiq=run_bmiq, run_combat=run_combat, **kw
    )


@pytest.fixture(scope="module")
def methyl_inputs(tmp_path_factory):
    """A small methyl_dmp-shaped input: two batches, two genotypes, one
    QC-failing sample."""
    from perfbench import gen

    d = tmp_path_factory.mktemp("methyl")
    gen.methyl_inputs(0, 300, 6, str(d))
    return d


@pytest.fixture(scope="module")
def full_run(spark, methyl_inputs):
    return _run_pipeline(
        spark, methyl_inputs, top_k=60, pca_k=2, dmp_groups=("genotype", "WT", "KO")
    )


def test_pipeline_dmp_plans_from_the_cut_lineage(full_run):
    """The DMP stage reads the cut ComBat output: no BMIQ grouped-map
    node and only limma/BH's own shuffles. With lazy persists at the
    reuse points instead, every action re-planned the whole QC -> BMIQ
    -> ComBat lineage (50 exchanges in this plan at the methyl_dmp
    benchmark size)."""
    plan = explain(full_run.dmp, "formatted")
    assert not re.findall(r"^\(\d+\) FlatMapGroupsInPandas", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 10, f"{len(exchanges)} exchanges in the dmp plan"


@pytest.mark.parametrize("run_bmiq", [False, True])
@pytest.mark.parametrize("run_combat", [False, True])
def test_pipeline_cuts_each_reuse_point_once(
    spark, methyl_inputs, monkeypatch, run_bmiq, run_combat
):
    """QC, BMIQ and ComBat each end in at most one lineage cut, and
    ``normalized`` always reads exactly one cut: its plan has a single
    leaf, an RDD scan."""
    from methyl_data_pipeline_spark import cache

    cuts = []
    real_cut = cache.cut

    def counting_cut(df, *a, **kw):
        cuts.append(df)
        return real_cut(df, *a, **kw)

    monkeypatch.setattr(cache, "cut", counting_cut)
    try:
        res = _run_pipeline(spark, methyl_inputs, run_bmiq, run_combat, top_k=60, pca_k=0)
        assert len(cuts) == 1 + run_bmiq + run_combat
        leaves = re.findall(
            r"^\(\d+\) (\w*Scan\b[^\n]*)", explain(res.normalized, "formatted"), re.M
        )
        assert len(leaves) == 1 and leaves[0].startswith("Scan ExistingRDD"), leaves
        assert "beta_final" in res.normalized.columns
    finally:
        cache.release_all()


def test_pipeline_outputs_survive_the_benchmark_teardown(full_run):
    """The benchmark unpersists ``qc_meth`` and ``normalized``, then
    releases every tracked persist. The cut blocks are not cache-manager
    entries, so both outputs still collect, to the same values."""
    from methyl_data_pipeline_spark import cache

    def values(df, keys):
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    norm_keys, dmp_keys = ["probe_id", "sample_id"], ["probe_id"]
    before = values(full_run.normalized, norm_keys), values(full_run.dmp, dmp_keys)
    full_run.qc_meth.unpersist()
    full_run.normalized.unpersist()
    cache.release_all()
    after = values(full_run.normalized, norm_keys), values(full_run.dmp, dmp_keys)
    for b, a in zip(before, after):
        pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-9)


def test_release_all_sends_dropped_handles_to_the_jvm(spark, monkeypatch):
    """A used DataFrame's py4j handle sits in a reference cycle, and py4j
    sends the release of a freed handle from a finalizer thread that
    sleeps a second when idle. ``release_all`` collects the cycle and
    sends the release itself, from the calling thread, before it
    returns."""
    import threading

    from pyspark import SparkContext

    from methyl_data_pipeline_spark import cache

    client = SparkContext._gateway._gateway_client
    real = client.garbage_collect_object
    sent = []

    def recording(target_id, enqueue=True):
        if not enqueue:
            sent.append((threading.get_ident(), target_id))
        return real(target_id, enqueue)

    monkeypatch.setattr(client, "garbage_collect_object", recording)
    cache.release_all()  # start from an empty queue
    df = spark.range(3).selectExpr("id * 2 AS x")
    assert df.count() == 3  # caches a JavaMember on the handle: a cycle
    target = df._jdf._target_id
    del df
    cache.release_all()
    assert (threading.get_ident(), target) in sent


# ---------------------------------------------------------------------------
# The plan-audit floor (tools/plans.py audit): no CartesianProduct, no
# row-at-a-time BatchEvalPython.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def plans_tool():
    path = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "plans.py")
    spec = importlib.util.spec_from_file_location("plans_tool", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_audit_trips_on_a_cartesian_product(spark, plans_tool):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")  # else the tiny side plans as a broadcast loop
    try:
        plan = plans_tool.physical_plan(spark.range(3).crossJoin(spark.range(4)))
    finally:
        spark.conf.set(key, old)
    assert plans_tool.audit_plan(plan) == ["CartesianProduct (unbroadcast cross join)"]


def test_plan_audit_trips_on_a_row_at_a_time_udf(spark, plans_tool):
    plus_one = F.udf(lambda x: x + 1, "long")
    plan = plans_tool.physical_plan(spark.range(3).select(plus_one("id")))
    assert plans_tool.audit_plan(plan) == ["BatchEvalPython (row-at-a-time Python UDF)"]


def test_plan_audit_passes_the_methyl_queries(spark, plans_tool):
    names = [
        "pipeline_end_to_end", "methyl_pipeline_chain", "meth_moderated_t",
        "combat_correction", "pca_scores",
    ]
    assert plans_tool.audit(spark, SF_DIR, names) == []
