"""Structured Streaming extension (SURVEY §2.12 — engine-native, the
reference is batch-only). One module, ``events``: watermarked windowed
counts, an interval stream-stream join, a stateless quality gate and
``stream_curate``, each with a batch twin the oracles check, plus the
batch event analytics (sessionization, funnels, cohort retention)."""

from methyl_data_pipeline_spark.streaming.events import (  # noqa: F401
    windowed_event_counts,
    windowed_event_counts_batch,
    sessionize_batch,
    stream_events_from_parquet,
)
