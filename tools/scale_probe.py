"""100x scale probe (VERDICT r7 #6): replicate the sf0.1 inputs 100x
with PERTURBED replicas and measure operator wall-time slopes.

Replica model (materialized to parquet once, untimed, so the probe
times the operator, not the replication):

- documents: replica 0 is the original; replicas >= 1 replace every
  word with a replica-salted md5 token. Within-replica duplicate
  structure is PRESERVED (dup docs map to identical hashed words under
  the same salt) so the per-replica dup rate stays realistic, while
  cross-replica similarity is destroyed (no artificial O(factor^2)
  near-dup blowup between replicas of the same doc).
- events: replicas get fresh user/event id ranges (same per-user event
  density — the realistic way a product grows), timestamps unchanged.

Usage: python tools/scale_probe.py [--factor 100] [--runs 3] [op ...]
Ops default to the four r8 probe targets: simhash_pairs budget_select
funnel cohort_retention.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/scale_probe"


def replicate(spark, factor: int) -> tuple[str, str]:
    from pyspark.sql import functions as F

    docs_path = f"{WORK}/documents_x{factor}"
    ev_path = f"{WORK}/events_x{factor}"
    # a dir without _SUCCESS is a half-written casualty: rebuild it
    for p in (docs_path, ev_path):
        if os.path.exists(p) and not os.path.exists(f"{p}/_SUCCESS"):
            shutil.rmtree(p)
    if not os.path.exists(docs_path):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        rep = docs.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        ).withColumn("_r", F.col("_r").cast("long"))
        scrambled = F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda w: F.substring(
                    F.md5(F.concat(w, F.col("_r").cast("string"))), 1, 8
                ),
            ),
        )
        rep.select(
            (F.col("doc_id") + F.col("_r") * F.lit(10_000_000)).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .when(F.col("text").isNull(), F.lit(None).cast("string"))
            .otherwise(scrambled)
            .alias("text"),
            "lang",
            "source",
        ).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(ev_path):
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        rep = ev.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        ).withColumn("_r", F.col("_r").cast("long"))
        rep.select(
            (F.col("event_id") + F.col("_r") * F.lit(100_000_000)).alias(
                "event_id"
            ),
            "ts",
            (F.col("user_id") + F.col("_r") * F.lit(10_000_000)).alias(
                "user_id"
            ),
            "event_type",
            "value",
            "props",
        ).write.mode("overwrite").parquet(ev_path)
    return docs_path, ev_path


def build_ops(spark, docs_path: str, ev_path: str, factor: int):
    """op name -> zero-arg callable forcing a full computation."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.ext.dedup import (
        containment_pairs,
        incremental_neardup,
        minhash_band_ledger,
        simhash_hamming_pairs,
    )
    from methyl_data_pipeline_spark.ext.pack import budget_select, source_token_cap
    from methyl_data_pipeline_spark.ext.text import STOPWORDS
    from methyl_data_pipeline_spark.streaming.events import (
        cohort_retention,
        funnel_steps,
    )

    docs = spark.read.parquet(docs_path)
    ev = spark.read.parquet(ev_path)
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])

    def scored():
        d = docs.filter(F.col("text").isNotNull())
        ws = F.split(F.lower(F.col("text")), r"\s+")
        return d.select(
            "doc_id",
            F.size(ws).cast("long").alias("n_tokens"),
            F.size(F.array_intersect(ws, en)).cast("long").alias("score"),
        )

    return {
        # legacy narrow config, pinned explicitly (the DEFAULT is now
        # bits=64 — r9 flip): 8-bit bands drown at 500k docs, which is
        # exactly what this probe exists to show against _64 below
        "simhash_pairs": lambda: simhash_hamming_pairs(docs, bits=32).count(),
        # the scale configuration (now also the default): 16-bit bands
        # stay candidate-sparse (see the docstring band-sizing rule)
        "simhash_pairs_64": lambda: simhash_hamming_pairs(
            docs, bits=64, bands=4
        ).count(),
        # budget scales with the corpus so the selected FRACTION is
        # constant (a fixed budget would degenerate to a tiny prefix)
        "budget_select": lambda: budget_select(
            scored(), "score", "n_tokens", budget=150_000 * factor
        ).count(),
        "funnel": lambda: funnel_steps(ev)
        .agg(
            F.sum(F.col("t_view").isNotNull().cast("long")),
            F.sum(F.col("t_purchase").isNotNull().cast("long")),
        )
        .collect(),
        "cohort_retention": lambda: cohort_retention(ev).count(),
        # rolling near-dup gate: corpus = first half of ids as the
        # ledger, shard = a slice that overlaps it
        "incremental_neardup": lambda: incremental_neardup(
            docs.filter(F.col("doc_id") % 10 == 3),
            minhash_band_ledger(docs.filter(F.col("doc_id") % 2 == 0)),
        ).count(),
        # r9: rare-gram postings prune -> containment verify. The
        # replica model preserves within-replica dup structure, so the
        # candidate workload scales with the duplicate rate, not n².
        "containment_pairs": lambda: containment_pairs(docs).count(),
        # r9: per-source best-first token cap — one group shuffle,
        # streaming window sum
        "source_token_cap": lambda: source_token_cap(
            scored().withColumn(
                "source", (F.col("doc_id") % 20).cast("string")
            ),
            "score",
            cap=50_000 * factor,
        ).count(),
        # r14: perceptual image near-dup. The id remap keeps the
        # role = id % 4 plant (1e7 % 4 == 0) and the fixture's base
        # pattern cycles every 200 groups, so replicas ADD identical-
        # fingerprint families — the heavy-dup load that exercises the
        # banding kernel's mega-bucket triangle guard (route exact
        # dups through dedup_exact first in production, per the
        # simhash docstring hygiene note).
        "image_neardup": lambda: _image_neardup_op(docs),
        # r14: perceptual video near-dup, same collapse-first hygiene
        # (the retime/downsize twins are hamming-0 identical, so every
        # replica grows exact-fingerprint families here too)
        "video_neardup": lambda: _video_neardup_op(docs),
        # r14: multi-class NB lang-id — fit + sparse scoring + argmax;
        # corpus-sized work only in the gram explode on both sides
        "lang_id_nb": lambda: _lang_id_nb_op(docs),
        # r14: the composed CCNet chain (url dedup -> line dedup ->
        # lang-id -> bigram terciles) — growth should track the line
        # scan + model fits, never corpus^2
        "ccnet_pipeline": lambda: _ccnet_op(docs),
    }


def _image_neardup_op(docs):
    # the production shape: collapse identical fingerprints to
    # representatives BEFORE banding (pairs within an identical family
    # are implied; materializing them is quadratic in family size —
    # the raw-fingerprint form OOMed a 16 GiB JVM at 10x on the
    # fixture's ~2500-member identical families)
    from methyl_data_pipeline_spark.ext.dedup import hamming_pairs
    from methyl_data_pipeline_spark.ext.multimodal import (
        collapse_exact_fingerprints,
        image_ahash,
        synthesize_images,
    )

    reps = collapse_exact_fingerprints(image_ahash(synthesize_images(docs)))
    return hamming_pairs(reps.select("ahash", "id"), "ahash", "id").count()


def _video_neardup_op(docs):
    # production shape, same reasoning as _image_neardup_op: collapse
    # identical temporal fingerprints to representatives before banding
    from methyl_data_pipeline_spark.ext.dedup import hamming_pairs
    from methyl_data_pipeline_spark.ext.multimodal import (
        collapse_exact_fingerprints,
        synthesize_videos,
        video_ahash,
    )

    reps = collapse_exact_fingerprints(video_ahash(synthesize_videos(docs)))
    return hamming_pairs(reps.select("ahash", "id"), "ahash", "id").count()


def _ccnet_op(docs):
    # unique URL per doc with a 10% twin stripe + the shared footer —
    # the ccnet_pipeline query's plant, scaled to the replica ids
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.plans.ccnet import run_ccnet_pipeline

    m6 = (F.col("doc_id") - 6).cast("string")
    ms = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 97 == 7, F.lit(None).cast("string"))
        .when(
            F.col("doc_id") % 10 == 6,
            F.concat(F.lit("HTTP://WWW.Example.com/p/"), m6, F.lit("/?a=1&b=2")),
        )
        .when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("https://example.com/p/"), ms, F.lit("?b=2&a=1")),
        )
        .otherwise(F.concat(F.lit("https://example.com/d/"), ms, F.lit("?x=1")))
    )
    text = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit("\nsubscribe to our newsletter for updates")),
    ).otherwise(F.col("text"))
    corpus = docs.select("doc_id", url.alias("url"), text.alias("text"), "lang")
    return run_ccnet_pipeline(corpus, buckets=1024).count()


def _lang_id_nb_op(docs):
    from methyl_data_pipeline_spark.ext.text import (
        lang_id_nb,
        train_lang_weights,
    )

    w = train_lang_weights(docs, buckets=1024)
    return lang_id_nb(docs, w, buckets=1024).count()


def timed(fn, runs: int) -> float:
    """Median wall of ``runs`` calls of ``fn`` after one warm-up call."""
    fn()
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    return ts[len(ts) // 2]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--fresh", action="store_true", help="rebuild replicas")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()
    if args.fresh and os.path.exists(WORK):
        shutil.rmtree(WORK)

    from methyl_data_pipeline_spark.session import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # a realistic heap for a 100x probe: local mode defaults to a 1 GiB
    # driver JVM = ~30 MB per concurrent task at local[32], an order of
    # magnitude below any real executor — 100x runs of the heavier
    # operators OOM on harness memory, not operator design. 16 GiB ~
    # a mid-size executor.
    spark = get_session(
        "scale_probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "16g"},
    )
    docs100, ev100 = replicate(spark, args.factor)
    base = {
        "docs": f"{SF_DIR}/documents.parquet",
        "ev": f"{SF_DIR}/events.parquet",
    }

    names = args.ops or ["simhash_pairs", "budget_select", "funnel", "cohort_retention"]
    ops1 = build_ops(spark, base["docs"], base["ev"], 1)
    opsN = build_ops(spark, docs100, ev100, args.factor)
    print(f"op\tt_1x(s)\tt_{args.factor}x(s)\tslope")
    for name in names:
        t1 = timed(ops1[name], args.runs)
        tn = timed(opsN[name], args.runs)
        print(f"{name}\t{t1:.2f}\t{tn:.2f}\t{tn / t1:.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
