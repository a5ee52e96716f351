"""The three benchmark workloads.

Each workload generates its inputs from the seed, runs the library's
public entry points on them, writes every output in full (never
``.count()``), and checks the written outputs against the generator's
planted truth. ``run`` takes a tracer: the untraced tracer makes spans
free and barriers the identity, the real one (``spans.Tracer``) names
the jobs of each call and materializes its result before the span ends.
"""

from __future__ import annotations

import inspect
import os
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

import gen
from methyl_data_pipeline_spark import model
from methyl_data_pipeline_spark.ext.dedup import minhash_candidate_pairs
from methyl_data_pipeline_spark.io import idat, readers, writers
from methyl_data_pipeline_spark.operators import qc
from methyl_data_pipeline_spark.plans.curation import curate
from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline
from methyl_data_pipeline_spark.stats.bh import bh_adjust_scalable
from methyl_data_pipeline_spark.stats.bmiq import bmiq_normalize
from methyl_data_pipeline_spark.stats.combat import combat
from methyl_data_pipeline_spark.stats.feature_selection import (
    select_probes,
    top_k_variable_probes,
)
from methyl_data_pipeline_spark.stats.limma import moderated_t_two_group
from methyl_data_pipeline_spark.stats.pca import pca_scores


class NoTrace:
    """The untraced run: spans cost nothing and nothing is forced."""

    def span(self, name: str):
        return nullcontext()

    def barrier(self, df: DataFrame) -> DataFrame:
        return df


def read_table(path: str):
    return pq.read_table(path).to_pandas()


# The defaults ``run_methylation_pipeline`` composes with, read from its
# signature so the staged copy below does not re-type them.
PIPELINE_DEFAULTS = {
    k: p.default
    for k, p in inspect.signature(run_methylation_pipeline).parameters.items()
    if p.default is not inspect.Parameter.empty
}


def differences(name: str, got, ref) -> list[str]:
    """Failures if a run's output differs from the first run's."""
    if isinstance(got, set):
        same = got == ref
    else:
        same = (
            np.shape(got) == np.shape(ref)
            and (not hasattr(got, "index") or got.index.equals(ref.index))
            and np.allclose(np.asarray(got, float), np.asarray(ref, float), rtol=1e-9, atol=1e-12)
        )
    return [] if same else [f"{name} differ from the first run's"]


class MethylDmp:
    """workflow.R: detection-p QC -> BMIQ -> ComBat -> top-k variance ->
    PCA -> limma moderated t -> BH, on a long beta table.

    The measured (untraced) run calls ``run_methylation_pipeline``; the
    warm-up and the traced run stage the same calls one layer at a time
    (``_staged``). Every run's outputs must equal the first run's, so a
    staged copy that drifts from the library fails the run.

    Warm-up is one staged run: it costs about half a cold fused run,
    and the fused runs after it are already warm. On a shared 4-core
    box, at this size, a cold fused run took 76-81 s and the next one
    50-56 s; after a 44 s staged warm-up, three fused runs took 54, 53
    and 52 s (at 14,000 probes: 55 s staged, then 62 and 65 s).
    """

    name = "methyl_dmp"
    n_probes, n_samples = 2_000, 8
    # The pipeline's default keeps 10,000 of ~50,000 probes; keep the
    # same share here, so top-k selection really drops probes.
    top_k = n_probes // 5
    dmp_groups = ("genotype", "WT", "KO")
    warmup_runs, warmup_staged = 1, True
    reference: dict | None = None

    def generate(self, seed: int, in_dir: str) -> int:
        self.truth = gen.methyl_inputs(seed, self.n_probes, self.n_samples, in_dir)
        return self.truth.n_rows

    def _read(self, spark, in_dir: str):
        return [
            readers.read_any(spark, os.path.join(in_dir, f))
            for f in ("meth.parquet", "probes.parquet", "samples.parquet")
        ]

    def run(self, spark, in_dir: str, out_dir: str, tr) -> dict:
        if isinstance(tr, NoTrace):
            meth, probes, samples = self._read(spark, in_dir)
            res = run_methylation_pipeline(
                meth, probes, samples, top_k=self.top_k, dmp_groups=self.dmp_groups
            )
            normalized, dmp, top, pca, ev = (
                res.normalized, res.dmp, res.top_k, res.pca, res.explained_variance
            )
            persisted = [res.qc_meth, res.normalized]
        else:
            normalized, dmp, top, pca, ev = self._staged(spark, in_dir, tr)
            persisted = []
        with tr.span("io.writers"):
            writers.write_parquet_by_run(normalized, os.path.join(out_dir, "normalized"))
            writers.write_parquet_by_run(dmp, os.path.join(out_dir, "dmp"), partition_cols=[])
        with tr.span("stats.pca"):
            pca_rows = pca.collect()
        with tr.span("stats.feature_selection"):
            top_ids = {r["probe_id"] for r in top.collect()}
        for df in persisted:
            df.unpersist()
        return {"pca": pca_rows, "ev": ev, "top": top_ids}

    def _staged(self, spark, in_dir: str, tr):
        """The calls ``run_methylation_pipeline`` composes, one span each."""
        d = PIPELINE_DEFAULTS
        with tr.span("io.readers"):
            meth, probes, samples = self._read(spark, in_dir)
            meth = tr.barrier(meth)
        with tr.span("operators.qc"):
            kept = qc.detp_retained_samples(meth, d["detp_sample_threshold"])
            stage = meth.filter(F.col("sample_id").isin(kept))
            stage = qc.filter_probes_by_detp(stage, d["detp_probe_threshold"], len(kept))
            stage = qc.filter_cg_probes(stage)
            qc_meth = tr.barrier(qc.drop_sex_chromosomes(stage, probes))
        self.qc_probes = qc_meth.select("probe_id").distinct().count()
        with tr.span("stats.bmiq"):
            normalized = tr.barrier(
                bmiq_normalize(qc_meth, probes).withColumnRenamed("beta_bmiq", "beta_norm")
            )
        with tr.span("operators.qc"):
            complete = tr.barrier(qc.drop_incomplete_probes(normalized, len(kept), "beta_norm"))
        with tr.span("stats.combat"):
            adjusted = combat(complete.withColumn("_m", model.mvalue("beta_norm")), value_col="_m")
            normalized = tr.barrier(
                adjusted.withColumn(
                    "beta_final", model.clamp(model.inv_mvalue("_m_combat"), 0.0, 1.0)
                ).select("probe_id", "sample_id", "run", "beta_final")
            )
        with tr.span("stats.feature_selection"):
            top = tr.barrier(top_k_variable_probes(normalized, self.top_k, "beta_final"))
            selected = tr.barrier(select_probes(normalized, top))
        with tr.span("stats.pca"):
            pca, ev = pca_scores(
                selected.withColumn("mval", model.mvalue("beta_final")),
                k=d["pca_k"],
                value_col="mval",
            )
            pca = tr.barrier(pca)
        group_col, a, b = self.dmp_groups
        with tr.span("stats.limma"):
            labeled = normalized.join(
                F.broadcast(samples.select("sample_id", group_col)), "sample_id"
            ).withColumn("mval", model.mvalue("beta_final"))
            dmp = tr.barrier(
                moderated_t_two_group(
                    labeled, group_col, a, b, value_col="mval",
                    with_p_values=True, prior_method="fitFDist",
                )
            )
        with tr.span("stats.bh"):
            dmp = tr.barrier(bh_adjust_scalable(dmp, "p_value", "adj_p", assume_no_nulls=True))
        return normalized, dmp, top, pca, ev

    def check(self, out_dir: str, res: dict) -> list[str]:
        t = self.truth
        bad = []
        kept = sorted(r["sample_id"] for r in res["pca"])
        if kept != sorted(s for s in t.samples if s != t.failing_sample):
            bad.append(f"PCA samples {kept} are not the QC-passing samples")
        ev = np.asarray(res["ev"])
        if np.any(np.diff(ev) > 1e-12) or np.any(ev > 1.0) or ev.sum() > 1.0 + 1e-9:
            bad.append(f"explained variance {ev} not descending or above 1")
        dmp = read_table(os.path.join(out_dir, "dmp")).sort_values("p_value")
        if not ((dmp.adj_p >= 0) & (dmp.adj_p <= 1)).all():
            bad.append("adj_p outside [0, 1]")
        if np.any(np.diff(dmp.adj_p.to_numpy()) < -1e-12):
            bad.append("adj_p not monotone in p")
        missed = t.dmps - set(dmp.probe_id[dmp.adj_p < 0.05])
        if missed:
            bad.append(f"{len(missed)} of {len(t.dmps)} planted DMPs not at adj_p < 0.05")
        norm = read_table(os.path.join(out_dir, "normalized"))
        if not norm.beta_final.between(0.0, 1.0).all() or t.failing_sample in set(norm.sample_id):
            bad.append("normalized betas outside [0, 1] or failing sample kept")
        if len(res["top"]) != self.top_k or not res["top"] <= set(norm.probe_id):
            bad.append(f"{len(res['top'])} top-k probes, expected {self.top_k} normalized ones")
        got = {
            "DMP statistics": dmp.set_index("probe_id")[["logFC", "t_mod", "p_value", "adj_p"]]
            .sort_index(),
            "normalized betas": norm.set_index(["probe_id", "sample_id"]).beta_final.sort_index(),
            "PCA scores": pd.DataFrame([r.asDict() for r in res["pca"]])
            .set_index("sample_id").sort_index(),
            "explained variances": ev,
            "top-k probes": res["top"],
        }
        if self.reference is None:
            self.reference = got
        else:
            for k, v in got.items():
                bad += differences(k, v, self.reference[k])
        return bad

    def layer_extras(self, res: dict) -> dict:
        return {"operators.qc.probes_kept_ratio": self.qc_probes / self.n_probes}


class IdatIngest:
    """IDAT ingest: binary scan -> mapInPandas decode -> broadcast
    manifest joins -> beta -> partitioned parquet sink."""

    name = "idat_ingest"
    n_probes, n_samples = 10_000, 16
    warmup_runs, warmup_staged = 2, False

    def generate(self, seed: int, in_dir: str) -> int:
        self.truth = gen.idat_inputs(seed, self.n_probes, self.n_samples, in_dir)
        return self.truth.n_decoded_rows

    def run(self, spark, in_dir: str, out_dir: str, tr) -> dict:
        with tr.span("io.readers"):
            files = tr.barrier(readers.read_idat_dir(spark, os.path.join(in_dir, "idat")))
            manifest = readers.read_any(spark, os.path.join(in_dir, "manifest.parquet"))
        with tr.span("io.idat"):
            decoded = tr.barrier(idat.decode_idat(files))
            betas = tr.barrier(idat.betas_from_intensities(decoded, manifest))
        with tr.span("io.writers"):
            writers.write_parquet_by_run(
                betas, os.path.join(out_dir, "betas"), partition_cols=["basename"]
            )
        return {}

    def check(self, out_dir: str, res: dict) -> list[str]:
        t = self.truth
        got = read_table(os.path.join(out_dir, "betas"))
        bad = []
        if len(got) != t.n_probes * t.n_samples:
            bad.append(f"{len(got)} beta rows, expected {t.n_probes * t.n_samples}")
        rng = np.random.default_rng(0)
        idx = rng.integers(len(got), size=min(2_000, len(got)))
        sample = got.iloc[idx]
        s = np.array([t.basenames.index(b) for b in sample.basename.astype(str)])
        p = np.searchsorted(t.probe_ids, sample.probe_id.to_numpy())
        if not np.allclose(sample.beta.to_numpy(), t.beta[s, p], rtol=0, atol=1e-12):
            bad.append("sampled betas differ from m / (m + u + 100)")
        return bad

    def layer_extras(self, res: dict) -> dict:
        return {}


class CorpusCurate:
    """LLM-corpus curation (quality gate, PII redaction, decontamination,
    exact dedup, packing) plus MinHash-LSH candidate pairs on a slice."""

    name = "corpus_curate"
    n_docs, slice_docs = 8_000, 4_000
    warmup_runs, warmup_staged = 1, False

    def generate(self, seed: int, in_dir: str) -> int:
        self.truth = gen.corpus_inputs(seed, self.n_docs, self.slice_docs, in_dir)
        return self.truth.n_docs

    def run(self, spark, in_dir: str, out_dir: str, tr) -> dict:
        with tr.span("io.readers"):
            docs = tr.barrier(readers.read_any(spark, os.path.join(in_dir, "docs.parquet")))
            bench = readers.read_any(spark, os.path.join(in_dir, "bench.parquet"))
        with tr.span("plans.curation"):
            packed = tr.barrier(curate(docs, bench))
        with tr.span("io.writers"):
            writers.write_parquet_by_run(
                packed, os.path.join(out_dir, "packed"), partition_cols=["source"]
            )
        with tr.span("ext.dedup"):
            pairs = tr.barrier(
                minhash_candidate_pairs(docs.filter(F.col("doc_id") < self.slice_docs))
            )
        with tr.span("io.writers"):
            writers.write_parquet_by_run(pairs, os.path.join(out_dir, "pairs"), partition_cols=[])
        return {}

    def check(self, out_dir: str, res: dict) -> list[str]:
        t = self.truth
        bad = []
        packed = read_table(os.path.join(out_dir, "packed"))
        ids = packed.doc_id.to_numpy()
        self.n_kept = len(ids)
        if len(ids) != len(set(ids)) or set(ids.tolist()) != t.survivors:
            bad.append(
                f"{len(ids)} curated docs; expected exactly the {len(t.survivors)} "
                "gate-passing, uncontaminated, min-id-deduplicated docs"
            )
        pairs = read_table(os.path.join(out_dir, "pairs"))
        self.candidates = set(zip(pairs.id_a.tolist(), pairs.id_b.tolist()))
        # MinHash-LSH is approximate: require 95 % recall of the planted
        # one-word-appended near duplicates (Jaccard ~0.98).
        missed = t.near_dup_pairs - self.candidates
        if len(missed) > 0.05 * len(t.near_dup_pairs):
            bad.append(f"{len(missed)} of {len(t.near_dup_pairs)} near-duplicate pairs missed")
        return bad

    def layer_extras(self, res: dict) -> dict:
        t = self.truth
        hit = len(t.planted_pairs & self.candidates)
        return {
            "plans.curation.docs_kept_ratio": self.n_kept / t.n_docs,
            "ext.dedup.candidate_precision": hit / max(1, len(self.candidates)),
        }


WORKLOADS = {w.name: w for w in (MethylDmp, IdatIngest, CorpusCurate)}
