"""Streaming (real readStream smoke) + IO parsers (FinalReport, sample
tables) + multimodal plumbing."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from methyl_data_pipeline_spark.ext.multimodal import attach_binary, decode_features
from methyl_data_pipeline_spark.io.readers import read_final_report, read_sample_tables
from methyl_data_pipeline_spark.streaming.events import (
    sessionize_batch,
    stream_events_from_parquet,
    windowed_event_counts,
    windowed_event_counts_batch,
)


def test_final_report_parser(spark, tmp_path):
    p = tmp_path / "final_report.txt"
    p.write_text(
        "[Header]\n"
        "Junk line 1\n"
        "Junk\tline\t2\n"
        "[Sample Methylation Profile]\n"
        "TargetID\tTB1.AVG_Beta\tTB2.AVG_Beta\n"
        "cg0001\t0.1\t0.9\n"
        "cg0002\t0.5\t0.4\n"
    )
    df = read_final_report(spark, str(p))
    assert df.columns == ["TargetID", "TB1.AVG_Beta", "TB2.AVG_Beta"]
    rows = {r["TargetID"]: r for r in df.collect()}
    assert rows["cg0001"]["TB1.AVG_Beta"] == "0.1"
    assert len(rows) == 2


def test_final_report_missing_marker_raises(spark, tmp_path):
    p = tmp_path / "bad.txt"
    p.write_text("no marker here\njust lines\n")
    with pytest.raises(ValueError, match="marker"):
        read_final_report(spark, str(p))


def test_sample_tables_parser(spark, tmp_path):
    for i, run in enumerate(["1", "2"]):
        p = tmp_path / f"run{run}.txt"
        p.write_text(
            "garbage preamble\n"
            "more garbage\n"
            "Index\tSample ID\tGenotype\n"
            f"1\t10{i}\tWT\n"
            f"2\t20{i}\tKO\n"
        )
    df = read_sample_tables(
        spark, [str(tmp_path / "run1.txt"), str(tmp_path / "run2.txt")]
    )
    rows = df.collect()
    assert len(rows) == 4
    idx = sorted(r["Index"] for r in rows)
    assert idx == ["1_1", "1_2", "2_1", "2_2"]  # run-prefixed (main.py:140 shape)
    assert {r["run"] for r in rows} == {"1", "2"}


def test_windowed_counts_batch(spark):
    rows = [
        (1, "2024-01-01 00:10:00", 1, "click", 1.0),
        (2, "2024-01-01 00:50:00", 1, "click", 2.0),
        (3, "2024-01-01 01:10:00", 2, "view", 3.0),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts_batch(ev, "1 hour").collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 01:00:00", "view")] == (1, 3.0)


def test_streaming_windowed_counts_memory_sink(spark, tmp_path):
    # drive a REAL streaming query (readStream -> memory sink) over a
    # parquet directory; complete mode so the single batch emits results
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:10:00", "2024-01-01 00:50:00", "2024-01-01 01:10:00"]
            ),
            "user_id": [1, 1, 2],
            "event_type": ["click", "click", "view"],
            "value": [1.0, 2.0, 3.0],
        }
    )
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    stream = stream_events_from_parquet(spark, src)
    agg = windowed_event_counts(stream, "1 hour", "10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_test")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM win_test").collect()
        }
    finally:
        q.stop()
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 01:00:00", "view")] == 1


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg: a window only emits once the watermark
    passes it, and events later than the watermark are dropped."""
    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)

    def batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    batch([(1, "2024-01-01 00:10:00", 1, "click", 1.0),
           (2, "2024-01-01 00:20:00", 1, "click", 1.0)])

    stream = stream_events_from_parquet(spark, src)
    agg = windowed_event_counts(stream, "1 hour", "10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("late_test").start()
    )
    try:
        q.processAllAvailable()
        # watermark still inside hour 0 -> nothing finalized yet
        assert spark.sql("SELECT * FROM late_test").count() == 0

        # advance event time past hour 0 + watermark, plus one LATE event
        batch([(3, "2024-01-01 02:00:00", 1, "click", 1.0)])
        q.processAllAvailable()
        batch([(4, "2024-01-01 00:30:00", 1, "click", 99.0),  # too late
               (5, "2024-01-01 02:05:00", 1, "click", 1.0)])
        q.processAllAvailable()
        rows = {str(r["window_start"]): r for r in spark.sql("SELECT * FROM late_test").collect()}
        # hour-0 window finalized WITHOUT the late event (n=2, not 3)
        assert rows["2024-01-01 00:00:00"]["n_events"] == 2
        assert rows["2024-01-01 00:00:00"]["sum_value"] == 2.0
    finally:
        q.stop()


def test_sessionize(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 7, "click", 1.0),
        (2, "2024-01-01 00:10:00", 7, "click", 1.0),  # same session (10 min gap)
        (3, "2024-01-01 02:00:00", 7, "click", 1.0),  # new session
        (4, "2024-01-01 00:00:00", 8, "view", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sessionize_batch(ev, gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[7]) == [1, 2]
    assert per_user[8] == [1]


def test_funnel_steps_order_matters(spark):
    """A step counts only if it happens strictly AFTER the previous
    step: purchase-before-view is no conversion; NULL users dropped."""
    from methyl_data_pipeline_spark.streaming.events import funnel_steps

    rows = [
        # user 1: full ordered funnel
        (1, "2024-01-01 00:00:00", 1, "view", 1.0),
        (2, "2024-01-01 00:05:00", 1, "click", 1.0),
        (3, "2024-01-01 00:10:00", 1, "purchase", 1.0),
        # user 2: purchase BEFORE view -> view only
        (4, "2024-01-01 00:00:00", 2, "purchase", 1.0),
        (5, "2024-01-01 00:05:00", 2, "view", 1.0),
        # user 3: click at the SAME instant as view -> strict > fails
        (6, "2024-01-01 00:00:00", 3, "view", 1.0),
        (7, "2024-01-01 00:00:00", 3, "click", 1.0),
        # NULL user: ignored
        (8, "2024-01-01 00:00:00", None, "view", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.user_id: r for r in funnel_steps(ev).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].t_view and out[1].t_click and out[1].t_purchase
    assert out[2].t_view and out[2].t_click is None and out[2].t_purchase is None
    assert out[3].t_view and out[3].t_click is None


def test_cohort_retention_triangle(spark):
    """Cohorts keyed by first-event week; offsets count distinct
    returning users; NULL user/ts dropped."""
    from methyl_data_pipeline_spark.streaming.events import cohort_retention

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0),   # u1 week A
        (2, "2024-01-08 00:00:00", 1, "view", 1.0),   # u1 back week A+1
        (3, "2024-01-01 12:00:00", 2, "view", 1.0),   # u2 week A only
        (4, "2024-01-08 00:00:00", 3, "view", 1.0),   # u3 first week A+1
        (5, "2024-01-01 00:00:00", None, "view", 1.0),
        (6, None, 4, "view", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(r.cohort_week - 2817, r.week_offset): r.n_users
           for r in cohort_retention(ev).collect()}
    # 2024-01-01 is epoch week 2817; normalize for readability
    assert out == {(0, 0): 2, (0, 1): 1, (1, 0): 1}


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(0, "hello"), (1, "world")], ["doc_id", "text"])
    media = attach_binary(docs)
    assert media.schema["content"].dataType.typeName() == "binary"
    out = {r["id"]: r for r in decode_features(media).collect()}
    import hashlib

    assert out[0]["digest"] == hashlib.md5(b"hello").hexdigest()
    assert out[0]["n_bytes"] == 5
    assert out[0]["kind"] == "digest"
    assert len(out[0]["features"]) == 8
    assert all(0 <= f <= 1 for f in out[0]["features"])


def test_real_media_features(spark):
    """synthesize_media → decode_features: decoded-stat features match
    the closed-form byte patterns (the same arithmetic the DuckDB
    oracle uses)."""
    import numpy as np

    from methyl_data_pipeline_spark.ext.multimodal import (
        decode_features,
        synthesize_media,
    )

    docs = spark.createDataFrame(
        [(3, "img doc"), (4, "wav doc"), (5, "txt doc")], "doc_id long, text string"
    )
    out = {r["id"]: r for r in decode_features(synthesize_media(docs)).collect()}

    assert out[3]["kind"] == "bmp" and out[3]["n_bytes"] == 54 + 768
    i = np.arange(768)
    px = ((3 * 7 + i) % 256).astype(float)
    exp = [px[0::3].mean(), px[1::3].mean(), px[2::3].mean(), px.std()]
    assert np.allclose(out[3]["features"], exp)

    assert out[4]["kind"] == "wav" and out[4]["n_bytes"] == 44 + 512
    i = np.arange(256)
    x = ((4 * 13 + 5 * i) % 65535 - 32767) / 32768.0
    pos = x >= 0
    exp = [x.mean(), x.std(), np.sqrt((x * x).mean()), (pos[1:] != pos[:-1]).mean()]
    assert np.allclose(out[4]["features"], exp)

    assert out[5]["kind"] == "digest"


def test_frame_sample_one_to_many(spark):
    from methyl_data_pipeline_spark.ext.multimodal import attach_binary, frame_sample

    # 5000-byte payload -> 4 fake frames (1/KiB), every 2nd -> idx 0, 2
    docs = spark.createDataFrame([(3, "x" * 5000)], "doc_id long, text string")
    out = sorted(
        frame_sample(attach_binary(docs), every_n=2, assumed_fps=10.0).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in out] == [0, 2]
    assert [r.t_offset for r in out] == [0.0, 0.2]
    assert len({r.frame_digest for r in out}) == 2


def test_bmp_codec_roundtrip():
    """Pure-struct BMP encode -> decode returns the exact pixels
    (incl. stride padding at non-multiple-of-4 widths)."""
    import numpy as np

    from methyl_data_pipeline_spark.ext.codecs import decode_bmp, encode_bmp

    rng = np.random.RandomState(0)
    for w, h in [(3, 2), (4, 4), (5, 3)]:  # odd widths exercise padding
        rgb = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        w2, h2, back = decode_bmp(encode_bmp(w, h, rgb))
        assert (w2, h2) == (w, h)
        assert back == rgb


def test_wav_codec_roundtrip():
    import numpy as np

    from methyl_data_pipeline_spark.ext.codecs import decode_wav, encode_wav

    t = np.arange(800) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    rate, back = decode_wav(encode_wav(8000, sig, bits=16))
    assert rate == 8000
    np.testing.assert_allclose(back, sig, atol=1.0 / 32767)
    # 8-bit path
    rate8, back8 = decode_wav(encode_wav(8000, sig, bits=8))
    np.testing.assert_allclose(back8, sig, atol=1.5 / 127)


def test_quality_gate_scan_matches_agg_variant(spark):
    # the shuffle-free scan twin must agree with the explode+groupBy
    # quality_filter verdict row-for-row on real data
    from methyl_data_pipeline_spark.ext.text import (
        quality_filter,
        quality_filter_scan,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"]: (r["n_words"], r["reject_reasons"], r["keep"])
         for r in quality_filter(docs).collect()}
    b = {r["doc_id"]: (r["n_words"], r["reject_reasons"], r["keep"])
         for r in quality_filter_scan(docs).collect()}
    assert a == b and len(a) > 0


def test_stream_quality_gate_memory_sink(spark, tmp_path):
    from methyl_data_pipeline_spark.streaming.events import stream_quality_gate

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "the quick brown fox jumps over a lazy dog in the warm sun today",
                "spam spam spam spam spam spam spam spam spam spam spam spam",
            ],
        }
    )
    src = str(tmp_path / "doc_stream_src")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    gated = stream_quality_gate(stream)
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName("gate_test")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r.asDict()
               for r in spark.sql("SELECT * FROM gate_test").collect()}
    finally:
        q.stop()
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False
    assert "repetitive" in got[2]["reject_reasons"]


def test_stream_stream_interval_join(spark, tmp_path):
    """Real watermarked stream-stream join (two parquet sources ->
    memory sink) must produce exactly the pairs the batch twin
    predicate produces on the same data."""
    from methyl_data_pipeline_spark.streaming.events import stream_stream_join

    purchases = pd.DataFrame(
        {
            "event_id": [100, 101, 102],
            "ts": pd.to_datetime(
                ["2024-01-01 01:00:00", "2024-01-01 02:30:00", "2024-01-01 03:00:00"]
            ),
            "user_id": [1, 1, 2],
            "value": [10.0, 20.0, 30.0],
        }
    )
    clicks = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:30:00",  # within 1h of purchase 100 (user 1)
                    "2024-01-01 00:45:00",  # within 1h of purchase 100 (user 1)
                    "2024-01-01 02:00:00",  # within 1h of purchase 101 (user 1)
                    "2024-01-01 02:45:00",  # user 2, within 1h of purchase 102
                ]
            ),
            "user_id": [1, 1, 1, 2],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    psrc, csrc = str(tmp_path / "p_src"), str(tmp_path / "c_src")
    spark.createDataFrame(purchases).write.mode("overwrite").parquet(psrc)
    spark.createDataFrame(clicks).write.mode("overwrite").parquet(csrc)

    ps = stream_events_from_parquet(spark, psrc)
    cs = stream_events_from_parquet(spark, csrc)
    joined = stream_stream_join(ps, cs, on="user_id", lookback="1 hour").select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("ssj_test").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["purchase_id"], r["click_id"])
            for r in spark.sql("SELECT * FROM ssj_test").collect()
        }
    finally:
        q.stop()

    # batch twin: identical predicate on the static frames
    pb = spark.createDataFrame(purchases).alias("l")
    cb = spark.createDataFrame(clicks).alias("r")
    cond = F.expr(
        "l.user_id = r.user_id AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts"
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in pb.join(cb, cond)
        .select(F.col("l.event_id").alias("purchase_id"),
                F.col("r.event_id").alias("click_id"))
        .collect()
    }
    assert got == want
    assert (100, 1) in got and (100, 2) in got and (101, 3) in got and (102, 4) in got
    assert (101, 1) not in got  # click 1 is >1h before purchase 101


def test_sliding_window_stream_batch_parity(spark, tmp_path):
    """Sliding agg: a real readStream run (complete mode) must equal
    the batch twin — and each event must land in exactly two
    overlapping 1h/30min windows."""
    from methyl_data_pipeline_spark.streaming.events import (
        sliding_event_counts,
        sliding_event_counts_batch,
        stream_events_from_parquet,
    )

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:10:00", "2024-01-01 00:40:00", "2024-01-01 01:10:00"]
            ),
            "user_id": [1, 1, 2],
            "event_type": ["click", "click", "view"],
            "value": [1.0, 2.0, 3.0],
        }
    )
    src = str(tmp_path / "slide_src")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in sliding_event_counts_batch(
            spark.read.parquet(src), "1 hour", "30 minutes"
        ).collect()
    }
    # event at 00:10 -> windows starting 23:30 and 00:00
    assert batch[("2023-12-31 23:30:00", "click")] == (1, 1.0)
    assert batch[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert batch[("2024-01-01 00:30:00", "click")] == (1, 2.0)
    assert sum(n for n, _ in batch.values()) == 2 * len(pdf)

    stream = stream_events_from_parquet(spark, src)
    agg = sliding_event_counts(stream, "1 hour", "30 minutes", "10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("slide_test")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM slide_test").collect()
        }
    finally:
        q.stop()
    assert got == batch


def test_avi_codec_roundtrip():
    from methyl_data_pipeline_spark.ext.codecs import decode_avi, encode_avi

    frames = [b"alpha", b"bb", b"c" * 7, b"dd"]  # odd sizes hit padding
    raw = encode_avi(frames, fps=24.0)
    fps, back = decode_avi(raw)
    assert fps == pytest.approx(1_000_000 / round(1_000_000 / 24.0))
    assert back == frames
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x00\x00\x00\x00WAVE")


def test_frame_sample_real_container(spark):
    """AVI payloads sample REAL frames: count/rate from the container,
    digests of actual chunk bytes."""
    import hashlib

    from methyl_data_pipeline_spark.ext.codecs import encode_avi
    from methyl_data_pipeline_spark.ext.multimodal import frame_sample

    frames = [f"f{i}".encode() for i in range(5)]
    content = encode_avi(frames, fps=10.0)
    media = spark.createDataFrame(
        [(7, "video", "video/avi", len(content), bytearray(content))],
        "id long, modality string, mime string, n_bytes long, content binary",
    )
    out = sorted(frame_sample(media, every_n=2).collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in out] == [0, 2, 4]
    assert [r.t_offset for r in out] == [0.0, 0.2, 0.4]
    assert [r.frame_digest for r in out] == [
        hashlib.md5(frames[i]).hexdigest() for i in (0, 2, 4)
    ]


def test_stream_curate_parity_with_batch_chain(spark, tmp_path):
    """stream_curate over a file stream keeps exactly the docs the
    batch chain keeps (quality gate + bloom decontamination + exact
    dedup), with identical token counts — id-ordered ingest so the
    stream's first-arrival dedup winner equals the batch min-id
    winner."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.ext.dedup import (
        bloom_build,
        bloom_decontaminate,
        shingles,
    )
    from methyl_data_pipeline_spark.ext.text import (
        md5_long,
        quality_reject_reasons,
    )
    from methyl_data_pipeline_spark.plans.curation import redact_pii_text
    from methyl_data_pipeline_spark.streaming.events import (
        curate_batch_twin,
        stream_curate,
        stream_events_from_parquet,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
        .withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    )
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10).orderBy("doc_id")

    bench_hashes = bench.select(
        F.explode(F.array_distinct(shingles("text", 5))).alias("_s")
    ).select(md5_long(F.col("_s")).alias("_h"))
    words = bloom_build(bench_hashes, "_h")

    src = str(tmp_path / "curate_src")
    corpus.coalesce(1).write.mode("overwrite").parquet(src)

    out = stream_curate(stream_events_from_parquet(spark, src), bloom_words=words)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("curate_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["n_tokens"]
            for r in spark.sql("SELECT * FROM curate_stream").collect()
        }
    finally:
        q.stop()

    # batch reference: same gates, min-id dedup winner; decontamination
    # runs on the REDACTED body exactly as stream_curate shingles it
    kept = corpus.filter(quality_reject_reasons() == F.lit(""))
    kept_red = kept.withColumn("text", redact_pii_text(F.col("text")))
    clean = kept.join(
        bloom_decontaminate(kept_red, bench).filter(F.col("maybe_contaminated"))
        .select("doc_id"),
        "doc_id",
        "left_anti",
    )
    norm = F.regexp_replace(
        F.lower(F.trim(redact_pii_text(F.col("text")))), r"\s+", " "
    )
    keyed = clean.select("doc_id", norm.alias("_norm"))
    winners = keyed.groupBy("_norm").agg(F.min("doc_id").alias("doc_id"))
    want = {
        r["doc_id"]: r["n_tokens"]
        for r in keyed.join(winners, ["_norm", "doc_id"], "left_semi")
        .select("doc_id", F.size(F.split("_norm", " ")).cast("long").alias("n_tokens"))
        .collect()
    }
    assert len(want) > 50
    assert got == want

    # the library batch twin (the frame the driver's oracle replays)
    # must match both the stream and the hand-rolled reference
    twin = {
        r["doc_id"]: r["n_tokens"]
        for r in curate_batch_twin(corpus, bloom_words=words).collect()
    }
    assert twin == want


def test_curated_ingest_checkpoint_recovery(spark, tmp_path):
    """Exactly-once incremental ingest through stream_curate: an
    availableNow run drains the files present, then terminates; a second
    run from the SAME checkpoint picks up only newly-arrived files
    (source offsets restored) and still drops a new doc whose
    fingerprint duplicates a run-1 doc (dedup operator state restored,
    not rebuilt). This is the engine-managed twin of
    ext.dedup.incremental_dedup's explicit ledger."""
    from methyl_data_pipeline_spark.streaming.events import stream_curate

    def ingest():
        stream = stream_events_from_parquet(spark, src)
        return (
            stream_curate(stream).writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def doc(i, text):
        return (i, text, "2024-01-01 12:00:00")

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    batch1 = mk(
        [
            doc(i, f"the quick brown fox number x{i} jumps over the lazy dog near river y{i}")
            for i in range(10, 20)
        ]
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    batch1.coalesce(2).write.mode("overwrite").parquet(src)

    q = ingest()
    q.awaitTermination()
    got1 = {r.doc_id for r in spark.read.parquet(sink).collect()}
    assert got1 == set(range(10, 20))

    # run 2: one genuinely new doc, one duplicate of doc 12's body
    # (different id + casing), and doc 13 re-delivered verbatim
    batch2 = mk(
        [
            doc(50, "the quick brown fox number x50 jumps over the lazy dog near river y50"),
            doc(51, "THE QUICK   brown fox number x12 jumps over the lazy dog near river y12"),
            doc(13, "the quick brown fox number x13 jumps over the lazy dog near river y13"),
        ]
    )
    batch2.coalesce(1).write.mode("append").parquet(src)

    q = ingest()
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    ids = sorted(r.doc_id for r in rows)
    # batch1 not re-emitted (source offsets), 51 and re-delivered 13
    # dropped (restored dedup state), 50 ingested
    assert ids == sorted(set(range(10, 20)) | {50}), ids
    assert len(ids) == len(set(ids))
